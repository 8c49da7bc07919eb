"""The benchmark's workloads: each prepares seeded inputs, runs one operation
at a time in a closed loop, checks every output and reports its metrics.

Every call into the program goes through a span named after the layer it
enters, so a traced run can split a pass into layers from the outside.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import struct
import time
import zipfile
import zlib
from collections import Counter

import corpus
import probes
import tables

MB = 1e6


class Op:
    """One operation's outcome: wall seconds, CPU seconds of the process
    tree, and whether its check held."""

    def __init__(self, seconds: float, ok: bool, cpu_s: float = 0.0, extra=None):
        self.seconds, self.ok, self.cpu_s = seconds, ok, cpu_s
        self.extra = extra or {}


class Workload:
    """A closed loop: one client, one operation in flight. Subclasses define
    ``prepare``, ``warm_up`` (the operation that ends the set-up cycle;
    it returns its seconds, output check excluded), ``one_pass`` and
    ``end_to_end``; every output is checked."""

    min_passes = 2  # timed operations per run at least, whatever --seconds says

    def __init__(self, ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.passes: list[dict] = []
        self.attempted = self.failed = 0
        self.layer: dict[str, float] = {}

    def record(self, op: Op) -> None:
        self.attempted += 1
        self.failed += not op.ok

    def loop(self, seconds: float, trace: bool) -> None:
        """Passes for at least ``seconds``. A traced run makes twice the
        passes, with spans and the Spark counters on in the order on, off,
        off, on, so that the drift of a warming JVM cancels out of the
        tracing overhead (traced minus untraced)."""
        end = time.perf_counter() + seconds
        need = self.min_passes * (2 if trace else 1)
        while True:
            traced = trace and len(self.passes) % 4 in (0, 3)
            self.ctx.set_traced(traced)
            s0, load = probes.steal_s(), os.getloadavg()[0]
            op = self.one_pass()
            self.record(op)
            self.passes.append({
                "pass_s": op.seconds, "cpu_s": op.cpu_s, "ok": op.ok, "traced": traced,
                "steal_s": round(probes.steal_s() - s0, 2), "load1": load, **op.extra,
            })
            self.ctx.log(f"pass {len(self.passes) - 1}: {self.passes[-1]}")
            if time.perf_counter() >= end and len(self.passes) >= need:
                break
        self.ctx.set_traced(False)

    def pass_times(self, traced: bool = False) -> list[float]:
        return [p["pass_s"] for p in self.passes if p["traced"] == traced]

    def layers(self) -> None:
        """Probes that run after the passes of a traced run."""


class ZipWorkload(Workload):
    """One operation = ``read_zip_members(on_error='skip')`` over the seeded
    corpus into the workload's sink; every output is checked.

    Subclasses set the read options and define ``sink`` and ``check``.
    """

    read_options: dict = {}
    sink_metric = ""  # per-layer name of the sink-alone time

    def prepare(self) -> None:
        t = time.perf_counter()
        self.dir, self.manifest = corpus.build(self.ctx.cache, self.ctx.seed)
        self.ctx.log(f"corpus {self.dir}: {time.perf_counter() - t:.2f}s")
        self.pattern = os.path.join(self.dir, "*.zip")
        self.paths = sorted(glob.glob(self.pattern))
        self.bad = len(self.manifest["bad"])
        self.skipped = 0
        self.expect = self.expected(self.manifest["members"])
        self.inflated = sum(m[2] for m in self.manifest["members"])
        self.archive_bytes = sum(os.path.getsize(p) for p in self.paths)
        self.out = os.path.join(self.ctx.work, "out", type(self).__name__)
        os.makedirs(os.path.dirname(self.out), exist_ok=True)

    def warm_up(self) -> float:
        op = self.one_pass()
        self.record(op)
        return op.seconds

    def one_pass(self) -> Op:
        from zip_to_parquet_spark.sources.zipsource import read_zip_members

        spark, ctx = self.ctx.spark, self.ctx
        group = f"perfbench-op-{self.attempted}"
        spark.sparkContext.setJobGroup(group, "op", False)
        cpu0 = probes.tree_cpu_s()
        t = time.perf_counter()
        try:
            acc = spark.sparkContext.accumulator(0)
            with self.tr.span("op"):
                with self.tr.span("zipsource.build"):
                    df = read_zip_members(spark, self.pattern, on_error="skip",
                                          skip_counter=acc, **self.read_options)
                if ctx.traced:
                    ctx.after_build(df, group, "zipsource")
                self.sink(df, self.out)
            dt = time.perf_counter() - t
            cpu = probes.tree_cpu_s() - cpu0
            if ctx.traced:
                ctx.after_op(group)
            self.skipped = acc.value
            self.tr.count("ops")
            self.tr.count("zipsource.skipped", self.skipped)
            self.tr.count("sinks.out_bytes", _out_bytes(self.out))
            ok = self.check(self.out) and self.skipped == self.bad
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.ctx.log(f"op failed: {exc!r}")
            return Op(time.perf_counter() - t, False)
        if not ok:
            self.ctx.log(f"CHECK FAILED (skipped {self.skipped}/{self.bad})")
        return Op(dt, ok, cpu)

    def end_to_end(self, pass_s: float) -> dict:
        return {"mb_s": self.mb / pass_s, "members_s": sum(self.expect.values()) / pass_s}

    # ------------------------------------------------------------ layers

    def layers(self) -> None:
        """Probes for the traced run, after the passes: the sink alone over
        staged rows (its output checked too), then the reader probes."""
        from zip_to_parquet_spark.sources.zipsource import read_zip_members

        spark = self.ctx.spark
        self.layer["zipsource.skipped"] = self.skipped
        self.layer["sinks.bytes_out_per_in"] = _out_bytes(self.out) / (self.mb * MB)
        staged = read_zip_members(spark, self.pattern, on_error="skip", **self.read_options)
        staged = staged.cache()
        staged.count()
        self.ctx.rss.reset()
        times = []
        for _ in range(2):
            with self.tr.span("sinks.staged") as s:
                self.sink(staged, self.out + "-staged")
            times.append(s.seconds)
        self.ctx.rss.sample()
        staged.unpersist()
        self.record(Op(min(times), self.check(self.out + "-staged")))
        self.layer[self.sink_metric] = min(times)
        self.layer["sinks.row_groups"] = _row_groups(self.out)
        self.layer["sinks.driver_rss_mb"] = self.ctx.rss.peak_self / MB
        self.reader_layers()

    def reader_layers(self) -> None:
        """ZipMembersReader called in-process on one core, no Spark; the
        floor; and the Spark scan into the noop sink."""
        import pyarrow.compute as pc

        from zip_to_parquet_spark.functions.globs import glob_to_regex
        from zip_to_parquet_spark.sources.zipsource import ZipMembersReader, read_zip_members

        member_glob = self.read_options.get("member_glob")

        def reader(with_body: bool):
            flag = "true" if with_body else "false"
            return ZipMembersReader({"paths": json.dumps(self.paths), "on_error": "skip",
                                     "member_regex": glob_to_regex(member_glob) if member_glob else "",
                                     "body": flag, "hash": flag})

        times = []
        for _ in range(5):
            with self.tr.span("zipsource.partitions") as s:
                parts = reader(True).partitions()
            times.append(s.seconds)
        self.layer["zipsource.partitions_ms"] = statistics.median(times) * 1e3
        self.layer["zipsource.partitions_n"] = len(parts)

        def drain(rd, tag):
            per, batches, nbytes = [], 0, 0
            for p in parts:
                with self.tr.span(tag) as s:
                    for b in rd.read(p):
                        batches += 1
                        nbytes += pc.sum(pc.binary_length(b.column(2))).as_py() or 0
                per.append(s.seconds)
            return per, batches, nbytes

        per, batches, nbytes = drain(reader(True), "zipsource.read")
        self.layer["zipsource.read_s"] = sum(per)
        self.layer["zipsource.read_mb_s"] = nbytes / MB / sum(per)
        self.layer["zipsource.max_partition_s"] = max(per)
        self.layer["zipsource.batches"] = batches
        per, _, _ = drain(reader(False), "zipsource.meta_read")
        self.layer["zipsource.meta_read_s"] = sum(per)
        self.layer["floor.inflate_sha_mb_s"] = floor_mb_s(self.paths)
        df = read_zip_members(self.ctx.spark, self.pattern, on_error="skip", **self.read_options)
        with self.tr.span("scan.noop") as s:
            df.write.format("noop").mode("overwrite").save()
        self.layer["scan.noop_s"] = s.seconds


def _parquet_files(path: str) -> list[str]:
    """The Parquet files of a sink's output: one file or a directory."""
    return [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.parquet")))


def _out_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _parquet_files(path))


def _row_groups(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_row_groups for p in _parquet_files(path))


def _raw_members(path: str):
    """(method, compressed bytes) of every stored or deflated member."""
    with open(path, "rb") as fh, zipfile.ZipFile(fh) as zf:
        for info in zf.infolist():
            if info.compress_type not in (zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED):
                continue
            fh.seek(info.header_offset)
            n, m = struct.unpack("<HH", fh.read(30)[26:30])
            fh.seek(info.header_offset + 30 + n + m)
            yield info.compress_type, fh.read(info.compress_size)


def floor_mb_s(paths: list[str]) -> float:
    """stdlib zlib inflate + hashlib.sha256 over the archives' members on one
    core: what any Python zip reader can reach per core."""
    raw = []
    for p in paths:
        try:
            raw.extend(_raw_members(p))
        except zipfile.BadZipFile:
            continue
    t = time.perf_counter()
    n = 0
    for method, data in raw:
        body = zlib.decompress(data, -15) if method == zipfile.ZIP_DEFLATED else data
        hashlib.sha256(body).digest()
        n += len(body)
    return n / MB / (time.perf_counter() - t)


def _by_archive(table, *cols) -> Counter:
    """Multiset of (archive file name, *cols) over an output table."""
    src = (os.path.basename(s) for s in table.column("source").to_pylist())
    return Counter(zip(src, *(table.column(c).to_pylist() for c in cols)))


class ZipIngest(ZipWorkload):
    """Body and hash on, distributed ``sinks.write_parquet``: the paper's
    job through the scale path."""

    # Passes of one run differ by up to ~20 %, runs by more: hypervisor steal
    # moves whole runs, so more passes per run would not narrow the spread.
    min_passes = 2
    sink_metric = "sinks.write_parquet_s"

    def prepare(self) -> None:
        super().prepare()
        self.mb = self.inflated / MB

    def expected(self, members) -> Counter:
        return Counter((a, n, h) for a, n, _s, h in members)

    def sink(self, df, out: str) -> None:
        from zip_to_parquet_spark.sinks import write_parquet

        with self.tr.span("sinks.write_parquet"):
            write_parquet(df, out, mode="overwrite")

    def check(self, out: str) -> bool:
        """The multiset of (archive, member, sha256) equals the manifest's, and
        every row's body hashes to its sha256."""
        import pyarrow.parquet as pq

        t = pq.read_table(out, columns=["source", "name", "hash", "body"])
        got = _by_archive(t, "name", "hash")
        bad_bodies = sum(
            b is None or hashlib.sha256(b).hexdigest() != h
            for b, h in zip(t.column("body").to_pylist(), t.column("hash").to_pylist()))
        if got != self.expect or bad_bodies:
            self.ctx.log(f"CHECK FAILED: {sum(got.values())}/{sum(self.expect.values())} rows, "
                         f"{bad_bodies} bodies that do not match their hash")
        return got == self.expect and not bad_bodies


class ZipManifest(ZipWorkload):
    """The reference CLI's default shape, ``-o one.parquet --row-group-size
    100 -g '**/*.png' --no-body --no-hash``, through the calls ``cli.main``
    makes: no inflate, one file written through the Spark driver."""

    GLOB, ROW_GROUP = "**/*.png", 100
    read_options = {"member_glob": GLOB, "body": False, "sha": False}
    sink_metric = "sinks.single_file_s"

    def prepare(self) -> None:
        super().prepare()
        self.out += ".parquet"
        self.mb = self.archive_bytes / MB

    def expected(self, members) -> Counter:
        return Counter((a, n) for a, n, _s, _h in members if n.endswith(".png"))

    def sink(self, df, out: str) -> None:
        from zip_to_parquet_spark.sinks import write_single_parquet_file

        with self.tr.span("sinks.write_single_parquet_file"):
            write_single_parquet_file(df, out, row_group_rows=self.ROW_GROUP)

    def check(self, out: str) -> bool:
        """(archive, member) multiset equals the manifest's matches, body and
        hash are null, and every row group but the last holds ROW_GROUP rows."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(out)
        groups = [pf.metadata.row_group(i).num_rows for i in range(pf.metadata.num_row_groups)]
        t = pf.read(columns=["source", "name", "body", "hash"])
        ok = (_by_archive(t, "name") == self.expect
              and all(g == self.ROW_GROUP for g in groups[:-1])
              and 0 < groups[-1] <= self.ROW_GROUP
              and t.column("body").null_count == t.column("hash").null_count == t.num_rows)
        if not ok:
            self.ctx.log(f"CHECK FAILED: {t.num_rows}/{sum(self.expect.values())} rows, "
                         f"row groups {groups[:2]}..{groups[-1:]}")
        return ok


class QueryMix(Workload):
    """Registry keys on seeded TPC-H-shaped tables, each built by its
    ``queries[key](spark, dir)`` callable and run into the noop sink; one
    operation is one pass over the keys, in an order the seed permutes.

    The warm-up pass collects every key instead and compares it with the
    key's DuckDB oracle through ``tests/parity.py``: once per session, as
    the noop sink leaves nothing to read back.
    """

    # A HEADLINE key whose build checkpoints a pandas-UDF stage over ~11
    # jobs, and a HEAVY wedge pipeline. More keys do not fit a run's time
    # budget: every run also pays a cold JVM and a cold first pass.
    KEYS = ("dedup_minhash_lsh", "graph_jaccard_linkpred")
    TABLES = ("lineitem", "documents")  # the tables the keys read

    def prepare(self) -> None:
        import random

        import pyarrow.parquet as pq

        t = time.perf_counter()
        self.dir = tables.build(self.ctx.cache, self.ctx.seed)
        self.ctx.log(f"tables {self.dir}: {time.perf_counter() - t:.2f}s")
        files = [os.path.join(self.dir, f"{n}.parquet") for n in self.TABLES]
        self.mb = sum(os.path.getsize(f) for f in files) / MB
        self.rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        self.rng = random.Random(self.ctx.seed)
        # Computed oracles read their tables from here; keep them in the checkout.
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.dir

    def warm_up(self) -> float:
        op = self.one_pass(oracle=True)
        self.record(op)
        return op.seconds

    def one_pass(self, oracle: bool = False) -> Op:
        from zip_to_parquet_spark.plans import all_queries

        spark, ctx = self.ctx.spark, self.ctx
        queries = all_queries()
        keys = list(self.KEYS)
        self.rng.shuffle(keys)
        per_key, results = {}, {}
        cpu0 = probes.tree_cpu_s()
        t = time.perf_counter()
        try:
            with self.tr.span("op"):
                for key in keys:
                    group = f"perfbench-op-{self.attempted}-{key}"
                    spark.sparkContext.setJobGroup(group, key, False)
                    k0 = time.perf_counter()
                    with self.tr.span(f"plans.{key}"):
                        with self.tr.span("plans.build"):
                            df = queries[key](spark, self.dir)
                        if ctx.traced:
                            ctx.after_build(df, group, "plans")
                        if oracle:
                            results[key] = (df.columns, [tuple(r) for r in df.collect()])
                        else:
                            with self.tr.span("action.noop"):
                                df.write.format("noop").mode("overwrite").save()
                    per_key[key] = time.perf_counter() - k0
                    if ctx.traced:
                        ctx.after_op(group)
            dt = time.perf_counter() - t
            cpu = probes.tree_cpu_s() - cpu0
            self.tr.count("ops")
            ok = self.matches_oracles(results) if oracle else True
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.ctx.log(f"op failed: {exc!r}")
            return Op(time.perf_counter() - t, False)
        return Op(dt, ok, cpu, {"keys": per_key})

    def matches_oracles(self, results: dict) -> bool:
        """Each key's rows equal its DuckDB oracle's, as tests/parity.py
        compares them."""
        import importlib.util

        from zip_to_parquet_spark.plans import all_oracle_sql

        spec = importlib.util.spec_from_file_location(
            "parity", os.path.join(self.ctx.root, "tests", "parity.py"))
        parity = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(parity)
        oracles = all_oracle_sql()
        con = parity.duck_connect(self.dir)
        ok = True
        try:
            for key, (cols, rows) in results.items():
                res = con.execute(oracles[key])
                want = parity.rows_multiset([d[0] for d in res.description], res.fetchall())
                same = parity.rows_multiset(cols, rows) == want
                self.ctx.log(f"oracle {key}: {len(rows)} rows, {'ok' if same else 'MISMATCH'}")
                ok &= same
        finally:
            con.close()
        return ok

    def end_to_end(self, pass_s: float) -> dict:
        return {"mb_s": self.mb / pass_s, "members_s": self.rows / pass_s}

    def layers(self) -> None:
        for key in self.KEYS:
            self.layer[f"plans.{key}.s"] = statistics.median(
                p["keys"][key] for p in self.passes if not p["traced"])


WORKLOADS = {"zip_ingest": ZipIngest, "zip_manifest": ZipManifest, "query_mix": QueryMix}
