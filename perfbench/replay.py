"""Spark-free replay of a workload's op cycle in this process, with spans.

The replay feeds the same inputs through the same public functions the
Spark tasks run (``operators.encode.encode_chunk_rows``,
``codec.blocks.encode_batch`` / ``decode_batch``), single-threaded.  When
traced, each listed function is wrapped where its caller looks it up (for
example ``codec.codecs.plan_int_array``), spans are kept in memory, and
self time is a span's duration minus its direct children's.

Layers with no public entry point (candidate costing, the zstd entropy
stage, and the crc32 that encode_chunk_rows computes) stay inside their
caller's self time; spans inside the program are a separate change.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import zlib

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from zebra_spark.codec import blocks as _blocks
from zebra_spark.codec import codecs as _codecs
from zebra_spark.codec import fsst as _fsst
from zebra_spark.codec import intcodec as _intcodec
from zebra_spark.codec.bloom import bloom_contains
from zebra_spark.operators import encode as _encode_op
from zebra_spark.operators.encode import encode_chunk_rows
from zebra_spark.session import DEFAULT_ROWS_PER_BATCH

from . import inputs
from .metrics import INT_CODECS, STR_CODECS
from .workloads import F1_READ_PROJECTION, LOOKUPS_PER_CYCLE

REPLAY_PAIRS = 3
INT_NAME = dict(enumerate(INT_CODECS))
STR_NAME = dict(enumerate(STR_CODECS))


class Tracer:
    """In-memory spans: [name, start_ns, end_ns, parent index, work count]."""

    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else -1
        rec = [name, time.perf_counter_ns(), 0, parent, 0]
        self.spans.append(rec)
        self.stack.append(idx)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec[2] = time.perf_counter_ns()

    def rollup(self) -> dict[str, dict]:
        """name -> {self_s, calls, work}; roots are the replayed ops."""
        child_ns = [0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child_ns[parent] += t1 - t0
        out: dict[str, dict] = {}
        for i, (name, t0, t1, parent, work) in enumerate(self.spans):
            r = out.setdefault(name, {"self_s": 0.0, "calls": 0, "work": 0, "root": parent < 0})
            r["self_s"] += (t1 - t0 - child_ns[i]) / 1e9
            r["calls"] += 1
            r["work"] += work
        return out

    def root_wall_s(self) -> float:
        return sum(t1 - t0 for _, t0, t1, p, _ in self.spans if p < 0) / 1e9

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start_ns", "end_ns", "parent", "work"],
                       "spans": self.spans}, f)


class _Null:
    """Stand-in tracer for the untraced replay: no spans, no patches."""

    @contextlib.contextmanager
    def span(self, name):
        yield [name, 0, 0, -1, 0]


def _wrap(tracer, fn, name, work=None):
    def wrapped(*a, **kw):
        with tracer.span(name(*a) if callable(name) else name) as rec:
            out = fn(*a, **kw)
            if work is not None:
                rec[4] = work(a, out)
            return out

    return wrapped


def _patches(tracer):
    """(module, attribute, wrapper) for every traced public function."""
    dec_ints = _codecs.decode_ints
    dec_strs = _codecs.decode_strings
    int_name = lambda c, *a, **k: f"codec.codecs.decode_ints.{INT_NAME.get(c, c)}"
    str_name = lambda c, *a, **k: f"codec.codecs.decode_strings.{STR_NAME.get(c, c)}"
    w_dec_ints = _wrap(tracer, dec_ints, int_name, lambda a, out: int(a[2]))
    w_dec_strs = _wrap(tracer, dec_strs, str_name, lambda a, out: len(out[1]))
    plan = _wrap(tracer, _intcodec.plan_int_array, "codec.intcodec.plan_int_array")
    pack = _wrap(tracer, _intcodec.pack_from_plan, "codec.intcodec.pack_from_plan")
    unpack = _wrap(tracer, _intcodec.unpack_int_array, "codec.intcodec.unpack_int_array")
    enc_ints = _wrap(tracer, _codecs.encode_ints, "codec.codecs.encode_ints")
    enc_strs = _wrap(tracer, _codecs.encode_strings, "codec.codecs.encode_strings")
    return [
        (_encode_op, "encode_batch", _wrap(tracer, _blocks.encode_batch, "codec.blocks.encode_batch")),
        (_blocks, "encode_ints", enc_ints),
        (_codecs, "encode_ints", enc_ints),
        (_blocks, "encode_strings", enc_strs),
        (_codecs, "plan_int_array", plan),
        (_intcodec, "plan_int_array", plan),
        (_codecs, "pack_from_plan", pack),
        (_intcodec, "pack_from_plan", pack),
        (_codecs, "unpack_int_array", unpack),
        (_blocks, "decode_ints", w_dec_ints),
        (_codecs, "decode_ints", w_dec_ints),
        (_blocks, "decode_strings", w_dec_strs),
        (_fsst, "train_and_encode", _wrap(tracer, _fsst.train_and_encode, "codec.fsst.train_and_encode")),
        (_fsst, "compress", _wrap(tracer, _fsst.compress, "codec.fsst.compress")),
        (_fsst, "decompress", _wrap(tracer, _fsst.decompress, "codec.fsst.decompress")),
    ]


@contextlib.contextmanager
def traced(tracer):
    saved = []
    try:
        for mod, attr, fn in _patches(tracer):
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, fn)
        yield tracer
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


# -- replays -----------------------------------------------------------------


def _read_row_groups(tr, path):
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    ) if os.path.isdir(path) else [path]
    for f in files:
        pf = pq.ParquetFile(f, memory_map=True)
        for rg in range(pf.metadata.num_row_groups):
            with tr.span("pyarrow.parquet.read_row_group"):
                table = pf.read_row_group(rg)
            yield f, rg, table


def _encode_table(tr, table, tag, state, rows_per_block=1 << 16):
    out = []
    for chunk in table.to_batches(max_chunksize=rows_per_block):
        with tr.span("operators.encode.encode_chunk_rows"):
            out.extend(encode_chunk_rows(chunk, task_tag=tag, _state=state))
    return out


def replay_f1_ingest(tr, wl):
    """encode_parquet_direct's task body over every split, in order;
    returns the rows encoded."""
    with tr.span("replay.ingest"):
        rows = 0
        for f, rg, table in _read_row_groups(tr, wl.src):
            tag = f"{os.path.basename(f)}:{rg}"
            rows += sum(b["n_rows"][0].as_py() for b in _encode_table(tr, table, tag, {"seq": 0}))
    return rows == wl.expect["rows"]


class ReadBlocks:
    """The f1_read fixture blocks, loaded once outside every span, and for
    each replayed lookup the blocks its Bloom filters keep (Spark probes
    the filters in the JVM, so the replay only decodes the survivors)."""

    def __init__(self, path, keys):
        t = pq.read_table(path, columns=["payload", "schema", "crc32", "key_bloom"])
        self.payloads = t.column("payload").to_pylist()
        self.crcs = t.column("crc32").to_pylist()
        blooms = t.column("key_bloom").to_pylist()
        raw = next(s for s in t.column("schema").to_pylist() if s is not None)
        self.schema = pa.ipc.read_schema(pa.py_buffer(raw))
        self.survivors = {
            k: [i for i, b in enumerate(blooms) if b is None or bloom_contains(b, k)]
            for k in keys
        }


def _decode(tr, payload, crc, schema, columns=None):
    """decode_df's per-block body: crc check, then decode_batch."""
    with tr.span("zlib.crc32"):
        ok = zlib.crc32(payload) == crc
    if not ok:
        raise ValueError("crc mismatch")
    with tr.span("codec.blocks.decode_batch"):
        return _blocks.decode_batch(payload, schema, columns=columns)


def replay_f1_read(tr, wl, blocks: ReadBlocks):
    """One op cycle: full scan, projected scan, LOOKUPS_PER_CYCLE lookups;
    returns whether every row and every looked-up key was found."""
    rows = 0
    with tr.span("replay.scan"):
        for p, c in zip(blocks.payloads, blocks.crcs):
            rows += _decode(tr, p, c, blocks.schema).num_rows
    with tr.span("replay.projected"):
        for p, c in zip(blocks.payloads, blocks.crcs):
            _decode(tr, p, c, blocks.schema, F1_READ_PROJECTION)
    hits = 0
    for doc_id, _, _ in wl.lookups[:LOOKUPS_PER_CYCLE]:
        with tr.span("replay.lookup"):
            for i in blocks.survivors[doc_id]:
                rb = _decode(tr, blocks.payloads[i], blocks.crcs[i], blocks.schema)
                hits += pc.sum(pc.equal(rb.column("doc_id"), doc_id)).as_py() or 0
    return rows == wl.expect["rows"] and hits == LOOKUPS_PER_CYCLE


def replay_tpch(tr, wl):
    """encode_df's task body then decode_df's, table by table, in
    Arrow batches of the session's maxRecordsPerBatch."""
    with tr.span("replay.roundtrip"):
        rows = 0
        for name in inputs.TPCH_TABLES:
            state = {"seq": 0}
            schema = None
            path = os.path.join(wl.src, f"{name}.parquet")
            for _, rg, table in _read_row_groups(tr, path):
                for rb in _encode_table(tr, table, name, state, DEFAULT_ROWS_PER_BATCH):
                    row = rb.to_pylist()[0]
                    if row["schema"] is not None:
                        schema = pa.ipc.read_schema(pa.py_buffer(row["schema"]))
                    rows += _decode(tr, row["payload"], row["crc32"], schema).num_rows
    return rows == sum(m["rows"] for m in wl.expect.values())


def run_replay(wl, tracer):
    """Replay ``wl``'s cycle once; returns (wall seconds, output ok)."""
    t0 = time.perf_counter()
    if wl.name == "f1_ingest":
        out = replay_f1_ingest(tracer, wl)
    elif wl.name == "f1_read":
        out = replay_f1_read(tracer, wl, wl.replay_blocks)
    else:
        out = replay_tpch(tracer, wl)
    return time.perf_counter() - t0, out


def replay_metrics(wl, spans_path: str) -> dict:
    """A warm-up replay, then REPLAY_PAIRS alternating untraced and traced
    replays.  Figures are per replayed cycle: the traced rollup divided by
    REPLAY_PAIRS; tracing overhead is the median traced wall minus the
    median untraced wall."""
    if wl.name == "f1_read":
        keys = [k for k, _, _ in wl.lookups[:LOOKUPS_PER_CYCLE]]
        wl.replay_blocks = ReadBlocks(wl.blocks_dir, keys)
    ok = run_replay(wl, _Null())[1]
    untraced, traced_walls = [], []
    tr = Tracer()
    for _ in range(REPLAY_PAIRS):
        wall, good = run_replay(wl, _Null())
        untraced.append(wall)
        with traced(tr):
            wall, good2 = run_replay(wl, tr)
        traced_walls.append(wall)
        ok = ok and good and good2
    tr.dump(spans_path)
    roll = tr.rollup()
    for r in roll.values():
        for k in ("self_s", "calls", "work"):
            r[k] /= REPLAY_PAIRS
    bulk_root = {"f1_ingest": "replay.ingest", "f1_read": "replay.scan",
                 "tpch_roundtrip": "replay.roundtrip"}[wl.name]
    return {
        "result_ok": ok,
        "rollup": roll,
        "wall_s": tr.root_wall_s() / REPLAY_PAIRS,
        "self_sum_s": sum(r["self_s"] for r in roll.values() if not r["root"]),
        "untraced_s": statistics.median(untraced),
        "traced_s": statistics.median(traced_walls),
        "bulk_wall_s": sum(
            t1 - t0 for n, t0, t1, p, _ in tr.spans if p < 0 and n == bulk_root
        ) / 1e9 / REPLAY_PAIRS,
    }
