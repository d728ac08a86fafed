"""Spark side of the benchmark: session set-up, the three workloads' ops,
their output checks and the Spark-side counts around each op.

Every call into the program goes through its public functions
(``session.get_spark``, ``sources.parquet_direct``, ``sources.iceberg``,
``operators.encode``, ``operators.decode``).  An op returns the raw Arrow
bytes it moved and a callable that checks its output; the caller times
the op, then runs the check.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import io
import json
import os
import signal
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from zebra_spark.operators.decode import bloom_filter_blocks, decode_df
from zebra_spark.operators.encode import encode_df
from zebra_spark.session import get_spark
from zebra_spark.sources.iceberg import write_blocks
from zebra_spark.sources.parquet_direct import encode_parquet_direct

from . import inputs

LOOKUPS_PER_CYCLE = 3
F1_READ_PROJECTION = ["doc_id", "n_tok", "source"]


class CheckFailed(Exception):
    """An op completed but its output was wrong."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# -- session, workers, processes -----------------------------------------------


def start_session(env):
    """One SparkSession on local[cpus]; returns (spark, get_spark seconds).
    Spark's scratch, warehouse and JVM temp files stay in the work dir."""
    tmp = os.path.join(env.work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{env.cpus}]",
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(env.work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData -XX:TieredStopAtLevel=1"
            ),
        },
    )
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def _warm(batches):
    from zebra_spark.codec.warmup import warm_codec

    warm_codec()
    yield from batches


def warm_workers(spark, cpus: int) -> None:
    """Spawn one Python worker per core and run warm_codec in each."""
    spark.range(cpus, numPartitions=cpus).mapInArrow(_warm, "id long").collect()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: a process whose
    parent ends first (the Python worker daemon when the JVM exits) is
    re-parented here, so reap_all can wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap_all(grace_s: float = 30.0) -> None:
    """Wait until no descendant of this process is left; SIGTERM what still
    runs after ``grace_s`` seconds, SIGKILL it 5 s later."""
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        left = _proc_tree(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and the Python workers), reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _python_workers() -> list[int]:
    """Pids of this process's Spark Python worker descendants."""
    out = []
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd and b"java" not in cmd.split(b"\0")[0]:
            out.append(pid)
    return out


def reset_worker_peak_rss() -> None:
    """Reset every Python worker's VmHWM to its current RSS, so that the
    peak set-up reached (the f1_read fixture encode) is not counted."""
    for pid in _python_workers():
        with contextlib.suppress(OSError), open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def worker_peak_rss_mb() -> float:
    """Max VmHWM (MB) over this process's Spark Python worker descendants."""
    peak = 0
    for pid in _python_workers():
        with contextlib.suppress(OSError), open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    peak = max(peak, int(line.split()[1]))
    return peak / 1024.0


# -- counts ---------------------------------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, most tasks in one stage) Spark ran under ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = widest = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            n = st.numTasks if st else 0
            tasks += n
            widest = max(widest, n)
    return len(jobs), tasks, widest


def plan_exchanges(df) -> int:
    """Exchange nodes in ``df``'s physical plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return sum(
        1 for line in buf.getvalue().splitlines() if "Exchange " in line
    )


def multiset_hashes(frames: dict) -> dict:
    """name -> order-independent (count, Σ hi, Σ lo) of xxhash64 over the
    rows of each DataFrame in ``frames``, all in one Spark job."""
    parts = [
        df.select(F.lit(name).alias("t"), F.xxhash64(*df.columns).alias("h"))
        for name, df in frames.items()
    ]
    rows = (
        functools.reduce(lambda a, b: a.unionAll(b), parts)
        .groupBy("t")
        .agg(
            F.count(F.lit(1)),
            F.sum(F.shiftright("h", 24)),
            F.sum(F.col("h").bitwiseAND(F.lit((1 << 24) - 1))),
        )
        .collect()
    )
    return {r[0]: tuple(r[1:]) for r in rows}


# -- block checks -----------------------------------------------------------------


def _leaf_kinds(schema: pa.Schema) -> dict[str, str]:
    """Block-meta leaf path -> 'int' | 'str', mirroring encode_batch's paths."""
    kinds: dict[str, str] = {}

    def walk(t, path):
        kinds[path + "#valid"] = "int"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            kinds[path + "#len"] = "int"
            walk(t.value_type, path + ".item")
        elif pa.types.is_map(t):
            kinds[path + "#len"] = "int"
            walk(pa.struct([("key", t.key_type), ("value", t.item_type)]), path + ".entries")
        elif pa.types.is_struct(t):
            for f in t:
                walk(f.type, path + "." + f.name)
        elif (
            pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)
        ):
            kinds[path] = "str"
        else:
            kinds[path] = "int"

    for f in schema:
        walk(f.type, f.name)
    return kinds


class BlockStats:
    """Σ bytes, per-codec wins, and the column-blocks stored bigger than
    zebra's encoding (``over_zebra``) over encoded block rows."""

    def __init__(self):
        self.rows = self.enc = self.zebra = self.raw = self.tokens = 0
        self.over_zebra: list[str] = []
        self.wins: dict[str, int] = {}
        self.codec_bytes: dict[str, int] = {}

    COLUMNS = ["n_rows", "enc_bytes", "zebra_bytes", "raw_bytes", "meta", "schema_id", "schema"]

    def add(self, table: pa.Table) -> None:
        kinds = {
            sid: _leaf_kinds(pa.ipc.read_schema(pa.py_buffer(sch)))
            for sid, sch in zip(table.column("schema_id").to_pylist(),
                                table.column("schema").to_pylist())
            if sch is not None
        }
        for n_rows, enc, zebra, raw, meta, sid in zip(
            *(table.column(c).to_pylist() for c in self.COLUMNS[:-1])
        ):
            check(sid in kinds, f"schema {sid} has no schema bytes")
            self.rows += n_rows
            self.enc += enc
            self.zebra += zebra
            self.raw += raw
            for path, m in json.loads(meta)["cols"].items():
                if m["bytes"] > m["zebra_bytes"]:
                    self.over_zebra.append(f"{path}: {m['bytes']} B > {m['zebra_bytes']} B")
                key = f"{kinds[sid].get(path, 'int')}.{m['codec']}"
                self.wins[key] = self.wins.get(key, 0) + 1
                self.codec_bytes[key] = self.codec_bytes.get(key, 0) + m["bytes"]
                if path == "tokens.item":
                    self.tokens += m["n"]

    @classmethod
    def of_dir(cls, path: str) -> "BlockStats":
        st = cls()
        st.add(pq.read_table(path, columns=cls.COLUMNS))
        return st


# -- workloads ---------------------------------------------------------------------


REF = "pq_scan"


class Workload:
    """Inputs, timed fixture prep, and a fixed cycle of (kind, op) pairs.
    ``bulk`` names the op kind ``raw_mb_s`` is taken over, ``latency`` the
    one ``op_p50_ms`` is.  Every cycle also runs the reference op REF: a
    plain Spark parquet scan of the input, hashed like the checks hash, so
    op costs can be given relative to it."""

    name = bulk = latency = ""

    def __init__(self, env, seed: int):
        self.env, self.seed = env, seed
        self.spark = None
        self.stats = BlockStats()

    def make_inputs(self) -> None:  # cached, outside every timing
        pass

    def fixture(self) -> None:  # timed inside setup_s
        pass

    def prepare(self) -> None:  # untimed: expected outputs for the checks
        pass

    def cycle(self) -> list:
        raise NotImplementedError

    def warmup(self) -> list:
        """Ops run once, untimed, before measuring: one of each kind."""
        return list(dict(self.cycle()).items())

    def out_dir(self, name: str) -> str:
        return os.path.join(self.env.work_dir, name)

    def ref_frames(self) -> dict:
        """name -> DataFrame over the plain parquet input that REF hashes."""
        raise NotImplementedError

    def pq_scan(self):
        """REF: no zebra_spark code runs, only the session it configured."""
        got = multiset_hashes(self.ref_frames())
        rows = {k: v[0] for k, v in got.items()}
        return 0, lambda: check(rows == self.ref_rows(), f"{REF} rows {rows}")

    def ref_rows(self) -> dict:
        return {"tokens": self.expect["rows"]}


class F1Ingest(Workload):
    name, bulk, latency = "f1_ingest", "ingest", "ingest"

    def make_inputs(self):
        self.src = inputs.f1_input(
            self.env.cache_dir, self.env.f1_rows, self.seed, self.env.cpus
        )
        self.expect = inputs.read_meta(self.src)

    def cycle(self):
        return [("ingest", self.ingest), ("ingest", self.ingest), (REF, self.pq_scan)]

    def ref_frames(self):
        return {"tokens": self.spark.read.parquet(self.src).select("tokens")}

    def ingest(self):
        out = self.out_dir("ingest_blocks")
        write_blocks(encode_parquet_direct(self.spark, self.src), out, mode="overwrite")
        return self.expect["raw_bytes"], lambda: self._check(out)

    def _check(self, out):
        st = BlockStats.of_dir(out)
        check(st.rows == self.expect["rows"], f"rows {st.rows} != {self.expect['rows']}")
        check(
            st.tokens == self.expect["tokens"],
            f"tokens {st.tokens} != {self.expect['tokens']}",
        )
        check(not st.over_zebra, f"bigger than zebra: {st.over_zebra[:3]}")
        self.stats = st

    def plan(self):
        return encode_parquet_direct(self.spark, self.src)


class F1Read(Workload):
    name, bulk, latency = "f1_read", "scan", "lookup"

    def make_inputs(self):
        self.src = inputs.f1_input(
            self.env.cache_dir, self.env.f1_rows, self.seed, self.env.cpus
        )
        self.expect = inputs.read_meta(self.src)
        keys = pq.read_table(self.src, columns=["doc_id", "n_tok", "source"])
        r = np.random.default_rng([self.seed, 11])
        pick = r.choice(keys.num_rows, size=min(64, keys.num_rows), replace=False)
        self.lookups = [
            (keys["doc_id"][i].as_py(), keys["n_tok"][i].as_py(), keys["source"][i].as_py())
            for i in pick.tolist()
        ]
        self.next_lookup = 0
        self.blocks_dir = self.out_dir("read_blocks")

    def fixture(self):
        src = self.spark.read.parquet(self.src)
        write_blocks(
            encode_df(src, key_col="doc_id", key_bloom=True),
            self.blocks_dir,
            mode="overwrite",
        )

    def prepare(self):
        src = self.spark.read.parquet(self.src)
        self.want = multiset_hashes(
            {"tokens": src.select("tokens"), "proj": src.select(F1_READ_PROJECTION)}
        )
        self.stats = BlockStats.of_dir(self.blocks_dir)

    def blocks(self):
        return self.spark.read.parquet(self.blocks_dir)

    def cycle(self):
        scan, look, ref = ("scan", self.scan), ("lookup", self.lookup), (REF, self.pq_scan)
        more = [scan, look] * (LOOKUPS_PER_CYCLE - 1)
        return [scan, look, ("projected", self.projected), ref] + more + [ref]

    def ref_frames(self):
        return {"tokens": self.spark.read.parquet(self.src).select("tokens")}

    def warmup(self):
        # a whole cycle: op costs keep falling for ~10 s after the first ops
        return self.cycle()

    def scan(self):
        got = multiset_hashes({"tokens": decode_df(self.blocks()).select("tokens")})
        return self.expect["raw_bytes"], lambda: check(
            got["tokens"] == self.want["tokens"], f"tokens hash {got} != {self.want}"
        )

    def projected(self):
        got = multiset_hashes(
            {"proj": decode_df(self.blocks(), columns=F1_READ_PROJECTION)}
        )
        return 0, lambda: check(
            got["proj"] == self.want["proj"], f"projection hash {got} != {self.want}"
        )

    def lookup(self):
        doc_id, n_tok, source = self.last_lookup = self.lookups[
            self.next_lookup % len(self.lookups)
        ]
        self.next_lookup += 1
        rows = (
            decode_df(self.blocks(), key_equals=doc_id)
            .filter(F.col("doc_id") == doc_id)
            .select("doc_id", "n_tok", "source")
            .collect()
        )
        return 0, lambda: check(
            [tuple(r) for r in rows] == [(doc_id, n_tok, source)],
            f"lookup {doc_id}: got {rows}",
        )

    def bloom_survivors(self, doc_id) -> int:
        return bloom_filter_blocks(self.blocks(), doc_id).count()

    def plan(self):
        return decode_df(self.blocks())


class TpchRoundtrip(Workload):
    name, bulk, latency = "tpch_roundtrip", "roundtrip", "roundtrip"

    def make_inputs(self):
        self.src = inputs.tpch_input(self.env.cache_dir, self.env.tpch_sf, self.seed)
        self.expect = inputs.read_meta(self.src)
        self.raw_bytes = sum(m["raw_bytes"] for m in self.expect.values())

    def table(self, name):
        return self.spark.read.parquet(os.path.join(self.src, f"{name}.parquet"))

    def prepare(self):
        self.want = multiset_hashes({n: self.table(n) for n in inputs.TPCH_TABLES})

    def warmup(self):
        return [("encode", self.encode), ("roundtrip", self.roundtrip), (REF, self.pq_scan)]

    def encode(self):
        """One encode_df pass over every table; its blocks give the byte
        metrics, and every column of every block must be <= zebra's."""
        blocks = [
            encode_df(self.table(n), rows_per_block=1 << 16).select(BlockStats.COLUMNS)
            for n in inputs.TPCH_TABLES
        ]
        rows = functools.reduce(lambda a, b: a.unionAll(b), blocks).collect()
        self.stats = st = BlockStats()
        st.add(pa.Table.from_pylist([r.asDict() for r in rows]))
        want_rows = sum(m["rows"] for m in self.expect.values())

        def verify():
            check(st.rows == want_rows, f"encoded {st.rows} rows != {want_rows}")
            check(not st.over_zebra, f"bigger than zebra: {st.over_zebra[:3]}")

        return self.raw_bytes, verify

    def roundtrip_df(self, name):
        df = self.table(name)
        return decode_df(encode_df(df, rows_per_block=1 << 16), schema=df.schema)

    def cycle(self):
        return [("roundtrip", self.roundtrip), (REF, self.pq_scan)]

    def ref_frames(self):
        return {n: self.table(n) for n in inputs.TPCH_TABLES}

    def ref_rows(self):
        return {n: m["rows"] for n, m in self.expect.items()}

    def roundtrip(self):
        """Every table's encode_df -> decode_df chain, hashed in one job."""
        got = multiset_hashes({n: self.roundtrip_df(n) for n in inputs.TPCH_TABLES})
        return self.raw_bytes, lambda: check(
            got == self.want, f"round-trip hashes {got} != {self.want}"
        )

    def plan(self):
        return self.roundtrip_df("lineitem")


WORKLOADS = {w.name: w for w in (F1Ingest, F1Read, TpchRoundtrip)}

