"""Benchmark of the ingestion engine: one seeded workload per run.

    python3 perfbench/run.py --workload ingest_rounds --seed 1 --seconds 20 --trace 0

Run from the repository root. One Spark session, with half of `nproc`
for Spark tasks (or SPARK_GRAFT_CPUS), runs the same two phases on every
workload:

  1. set-up: a historical ledger appended with `upsert_append`, a bucket
     of prelanded files and one `operators.ingest.ingest_batch` pass;
  2. closed-loop cycles of one client: ledger query-API calls
     (`point_lookup` hits, misses and just-written ids, `list_uploads`,
     `as_of`, `route_to_dlq`, `dlq_replay`), each cycle closed by an
     ingest round that lands new files in the bucket, which keeps every
     earlier file, so each round redelivers them (failed files retry up
     to the 5-attempt DLQ cap; header-only, blank-line, 0-byte and
     non-.csv decoy files ride along).

The workloads differ in shape (see WORKLOADS): `ingest_rounds` has a
large, growing bucket over a small ledger; `ledger_reads` a small bucket
over a large historical ledger.

The last stdout line is the result: `{"correct", "attempted", "failed",
"metrics"}`. Its timings are CPU time of the process tree (this Python
driver and the JVM, all threads), which leaves out the time a shared
host gives to other tenants; wall-clock latencies vary with that steal
far more than with the program. With `--trace 1` the metrics are the
per-layer ones, taken from spans around calls into the program's
modules. The line before it carries details: wall-clock latencies with
tail percentiles and sample counts, peak memory, raw samples, CPU steal,
input sizes and the environment. Output checks run outside every timed
section; an operation fails when its output is missing or wrong, and the
run is incorrect only when an output is wrong.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Tracer  # noqa: E402

PKG = "csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark"
# uploads in the historical ledger, files prelanded in the bucket, and
# files landed by each ingest round
WORKLOADS = {
    "ingest_rounds": {"n_uploads": 1_000, "n_prelanded": 400, "n_per_write": 100},
    "ledger_reads": {"n_uploads": 20_000, "n_prelanded": 40, "n_per_write": 40},
}
SETUP_REPS = 3


def pct_tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile
    that has at least ten samples beyond it; with fewer than 21 samples
    that percentile would sit at or below the median, so the tail is the
    maximum, with zero samples beyond."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0, 0
    k = n - 11  # 0-based index with exactly ten samples above it
    return xs[k], round(100.0 * (k + 1) / n, 1), n - k - 1


def process_tree(pid: int) -> list[int]:
    """`pid` and its descendants: this Python process, the JVM and the
    Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak resident sizes (VmHWM) of `pid` and its descendants."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time used so far by `pids`, all threads."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot. Steal is
    time the hypervisor ran something else; on a shared host it stretches
    every wall-clock timing of a run alike."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, total bytes) under `path`."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(d, f))
            n += f.endswith(".parquet")
    return n, size


class Bench:
    def __init__(self, args, mods):
        self.args = args
        self.m = mods
        self.shape = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.tr = Tracer(bool(args.trace))
        self.tally = checks.Tally()
        self.t: dict[str, list[float]] = {}  # timed samples per metric
        self.info: dict = {"workload": args.workload, "seed": args.seed}
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.spark = None
        self.last_rows = None
        self.landed: list[int] = []  # new files per ingest round
        self.fresh: list[str] = []  # ids of the last round's .csv files
        # half the cores run Spark tasks; the rest are left to the Python
        # driver, the JVM's own threads and garbage collection
        nproc = os.cpu_count() or 1
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        self.cpus = max(1, nproc // 2)
        if env_cpus.isdigit():
            self.cpus = min(nproc, int(env_cpus))

    # ---------------------------------------------------------------- utils

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def check(self, tally: checks.Tally) -> None:
        self.tally.add(tally)

    def check_one(self, ok: bool, what: str) -> None:
        t = checks.Tally()
        t.record(ok, what)
        self.check(t)

    def ledger_rows(self, bucket: str) -> list:
        from pyspark.sql import functions as F

        df = self.m.ledger.read_ledger(self.spark, self.ledger_dir)
        return df.filter(F.col("bucket_name") == bucket).select(
            "upload_id", "file_name", "status", "lines_processed", "error_message",
            F.unix_micros("queued_at").alias("q"), F.unix_micros("ts").alias("t"),
        ).collect()

    def check_bucket(self, model: checks.BucketModel) -> list:
        """Check the ledger rows of `model`'s bucket and return them."""
        rows = self.ledger_rows(model.bucket)
        self.check(model.check(
            [(r.file_name, r.status, r.lines_processed, r.error_message) for r in rows]))
        return rows

    def settle(self) -> None:
        """Wait (at most a second) until the JVM's work left over from the
        previous call, such as garbage collection, has finished, so a
        call's CPU time is its own."""
        end = time.perf_counter() + 1.0
        last = cpu_seconds(self.pids)
        while time.perf_counter() < end:
            time.sleep(0.1)
            now = cpu_seconds(self.pids)
            if now - last <= 0.01:
                return
            last = now

    def start_session(self) -> float:
        t0 = time.perf_counter()
        self.spark = self.m.session.get_spark(app_name="perfbench", cpus=str(self.cpus))
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    # --------------------------------------------------------------- set-up

    def setup(self) -> None:
        """SETUP_REPS builds of the inputs, each into fresh directories;
        the last one is used. setup_s is the median CPU time of a build;
        the session start before it is the per-layer session.start_s.
        The set-up ingest pass is checked after the clock, and its rows
        join the history in the read model."""
        walls, cpus = [], []
        for rep in range(SETUP_REPS):
            base = os.path.join(self.work, f"s{rep}")
            self.settle()
            t0, c0 = time.perf_counter(), cpu_seconds(self.pids)
            history = self.build(base)
            walls.append(time.perf_counter() - t0)
            cpus.append(cpu_seconds(self.pids) - c0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(base, ignore_errors=True)
        self.setup_s = statistics.median(cpus)
        self.info["setup_reps"] = {"wall_s": [round(d, 4) for d in walls],
                                   "cpu_s": [round(d, 4) for d in cpus]}
        self.bucket.ingest_pass()
        self.last_rows = self.check_bucket(self.bucket)
        self.ledger_model = checks.LedgerModel(history)
        self.ledger_model.append_rows(self.last_rows)
        self.model_max_t = int(self.ledger_model.rows.ts.max())
        self.info["history_rows"] = history.num_rows

    def build(self, base: str):
        """A historical ledger (gen.ledger_history) appended with
        upsert_append, then a bucket of prelanded files and one ingest
        pass over it; returns the history."""
        import pyarrow.parquet as pq

        self.base = base
        self.ledger_dir = os.path.join(base, "ledger")
        self.bucket_dir = os.path.join(base, "landing")
        self.bucket = checks.BucketModel("landing")
        now_us = int(time.time() * 1e6)
        start_us = now_us - (gen.LEDGER_DAYS + 2) * 86_400_000_000
        history = gen.ledger_history(self.args.seed, self.shape["n_uploads"], start_us)
        staging = os.path.join(base, "history.parquet")
        os.makedirs(base, exist_ok=True)
        pq.write_table(history, staging)
        df = self.spark.read.parquet(staging).select(
            *[f"`{f.name}`" for f in self.m.LEDGER_SCHEMA.fields])
        self.m.ledger.upsert_append(df, self.ledger_dir)
        files = gen.bucket_batch(self.args.seed, 0, self.shape["n_prelanded"], gen.MTIME_EPOCH)
        gen.land(files, self.bucket_dir)
        self.bucket.land(files)
        self.m.ingest.ingest_batch(self.spark, self.bucket_dir, self.ledger_dir)
        return history

    # ---------------------------------------------------------------- ingest

    def ingest_round(self, c: int, traced: bool) -> list[str]:
        """Land new files in the bucket and ingest it against the ledger;
        returns the ids of the landed .csv files so the next lookups can
        target them."""
        files = gen.bucket_batch(
            self.args.seed, c, self.shape["n_per_write"], gen.MTIME_EPOCH + 100_000 * c)
        gen.land(files, self.bucket_dir)
        self.bucket.land(files)
        self.landed.append(len(files))
        self.ingest_pass(f"round-{c}", traced=traced)
        new = [r for r in self.last_rows if r.t > self.model_max_t]
        if new:
            self.ledger_model.append_rows(new)
            self.model_max_t = max(r.t for r in new)
        return [gen.upload_id("landing", f) for f in files if f.is_csv]

    def ingest_pass(self, rid: str, traced: bool) -> None:
        """One timed ingest_batch over the whole bucket, then (untimed)
        the ledger check and the per-layer counts from the ledger diff."""
        m = self.m
        before: dict[str, list[str]] = {}
        for r in self.last_rows:
            before.setdefault(r.file_name, []).append(r.status)
        if traced:
            self.layer_probes(rid)
        real_append = m.ingest.upsert_append

        def traced_append(df, path):
            with self.tr.span("ledger.append", rid):
                real_append(df, path)

        if traced:
            m.ingest.upsert_append = traced_append
        self.settle()
        try:
            with self.tr.span("ingest.batch", rid) if traced else contextlib.nullcontext():
                t0, c0 = time.perf_counter(), cpu_seconds(self.pids)
                m.ingest.ingest_batch(self.spark, self.bucket_dir, self.ledger_dir)
                took = time.perf_counter() - t0
                self.t.setdefault("ingest_round_cpu", []).append(cpu_seconds(self.pids) - c0)
        finally:
            m.ingest.upsert_append = real_append
        self.t.setdefault("ingest_round", []).append(took)
        self.bucket.ingest_pass()
        rows = self.check_bucket(self.bucket)
        after: dict[str, int] = {}
        for r in rows:
            after[r.file_name] = after.get(r.file_name, 0) + 1
        admitted = len(rows) - len(self.last_rows)
        self.tr.count("ingest.admitted", admitted)
        if traced:  # the base of csv_source.scanned_per_admitted
            self.tr.count("csv_source.admitted_in_scanned_rounds", admitted)
        self.tr.count("ingest.skipped_done", sum(1 for st in before.values() if "done" in st))
        self.tr.count("ingest.retried_failed", sum(
            1 for n, st in before.items() if "done" not in st and after.get(n, 0) > len(st)))
        self.last_rows = rows

    def layer_probes(self, rid: str) -> None:
        """Traced run only: force each layer's part of the ingest
        dataflow on its own, timed from outside around the public
        functions, before the round runs them together."""
        m, spark = self.m, self.spark
        with self.tr.span("csv_source.scan", rid):
            meta = m.csv_source.read_csv_file_metadata(spark, self.bucket_dir)
            self.noop(meta)
        listed = meta.inputFiles()
        self.tr.count("csv_source.files_scanned", len(listed))
        self.tr.count("csv_source.bytes_scanned", sum(
            os.path.getsize(p.replace("file://", "")) for p in listed))
        facts = spark.createDataFrame(
            meta.select("bucket_name", "file_name", "file_size", "time_created")
            .distinct().collect(),
            "bucket_name string, file_name string, file_size long, time_created timestamp",
        )
        with self.tr.span("keys.derive", rid):
            self.noop(facts.select(m.keys.upload_id_col().alias("upload_id")))
        with self.tr.span("ledger.read", rid):
            led = m.ledger.read_ledger(spark, self.ledger_dir)
            led.count()
        with self.tr.span("ledger.latest_wins", rid):
            self.noop(m.ledger.latest_wins(led))
        with self.tr.span("ingest.gate", rid):
            n = m.ingest.terminal_upload_ids(led).count()
        self.tr.sample("ingest.gate_keys", n)

    # ----------------------------------------------------------------- reads

    def read_op(self, kind: str, arg, rid: str, traced: bool) -> None:
        """One query-API call, timed from reading the ledger to the
        collected answer; the check runs after the clock."""
        from pyspark.sql import functions as F

        m, spark, lm = self.m, self.spark, self.ledger_model
        sc = spark.sparkContext
        if traced:
            sc.setJobGroup(rid, kind)
        layer = "dlq" if kind in ("route", "replay") else "ledger"
        self.settle()
        t0, c0 = time.perf_counter(), cpu_seconds(self.pids)
        with self.tr.span(f"{layer}.{kind}", rid) if traced else contextlib.nullcontext():
            led = m.ledger.read_ledger(spark, self.ledger_dir)
            if kind == "point_lookup":
                out = m.ledger.point_lookup(led, arg).select("upload_id", "status").collect()
            elif kind == "list_uploads":
                out = m.ledger.list_uploads(led, arg[0], arg[1]).select("upload_id").collect()
            elif kind == "as_of":
                cutoff, status, limit = arg
                cur = m.ledger.as_of(
                    led, dt.datetime.fromtimestamp(cutoff / 1e6, dt.timezone.utc))
                out = (cur.filter(F.col("status") == status)
                       .orderBy(F.col("queued_at").desc(), F.col("upload_id"))
                       .limit(limit).select("upload_id").collect())
            elif kind == "route":
                out = m.dlq.route_to_dlq(led).filter("terminal").count()
            else:
                out = m.dlq.dlq_replay(led).count()
        took = time.perf_counter() - t0
        cpu = cpu_seconds(self.pids) - c0
        if traced:
            self.tr.sample(f"{layer}.jobs_per_call",
                           len(sc.statusTracker().getJobIdsForGroup(rid)))
            sc.setJobGroup("idle", "idle")
        self.t.setdefault("lookup" if kind == "point_lookup" else "listing", []).append(took)
        self.t.setdefault(f"cpu:{kind}", []).append(cpu)
        self.t.setdefault(f"read_cpu_{'traced' if traced else 'untraced'}", []).append(cpu)
        if kind == "point_lookup":
            want = lm.lookup(arg)
            have = out[0].status if len(out) == 1 else (None if not out else "dup")
            self.check_one(have == want, f"lookup {arg}: want {want} got {have}")
        elif kind in ("list_uploads", "as_of"):
            want = lm.listing(*arg) if kind == "list_uploads" else lm.listing(
                arg[1], arg[2], cutoff_us=arg[0])
            self.check_one([r.upload_id for r in out] == want, f"{kind} {arg}")
        else:
            terminal, attempts = lm.dlq()
            want = terminal if kind == "route" else attempts
            if kind == "route":
                self.tr.sample("dlq.terminal", out)
            self.check_one(out == want, f"{kind}: want {want} got {out}")

    def phase_cycles(self, cycles, rounds: bool = True) -> None:
        """Closed loop, one client, a fixed cycle of calls; the seed only
        picks the ids and the as-of cutoff. Each cycle ends with an
        ingest round, and the next cycle's lookups target its new ids. A
        traced run traces the odd cycles only, so the even ones measure
        the tracing overhead."""
        lm, rng = self.ledger_model, self.rng
        cycle = [
            ("point_lookup", "hit"),
            ("list_uploads", (None, 50)),
            ("point_lookup", "miss"),
            ("as_of", "done"),
            ("route", None),
            ("replay", None),
            ("point_lookup", "hit"),
            ("point_lookup", "miss"),
        ] + ([("round", None)] if rounds else [])
        for c in cycles:
            traced = self.tr.enabled and c % 2 == 1
            ids = lm.current().upload_id.tolist()
            lo, hi = int(lm.rows.ts.min()), int(lm.rows.ts.max())
            for j, (kind, arg) in enumerate(cycle):
                if kind == "round":
                    self.fresh = self.ingest_round(c, traced)
                    continue
                if arg == "hit":
                    arg = self.fresh.pop(rng.randrange(len(self.fresh))) if self.fresh else ids[
                        rng.randrange(len(ids))]
                elif arg == "miss":
                    arg = "%016x" % rng.getrandbits(64)
                elif kind == "as_of":
                    arg = (rng.randint(lo, hi), arg, 50)
                self.read_op(kind, arg, f"op-{c}-{j}", traced)

    # ------------------------------------------------------------------ run

    def size(self) -> None:
        """Work per phase, scaled from --seconds."""
        s = self.args.seconds / 20.0
        self.n_cycles = max(2, round(3 * s))  # traced and untraced cycles

    def run(self) -> dict:
        self.size()
        self.ticks0 = cpu_ticks()
        os.makedirs(self.work, exist_ok=True)
        self.session_start_s = self.start_session()
        self.pids = process_tree(os.getpid())
        walls = self.info["phase_wall_s"] = {}
        t0 = time.perf_counter()

        def lap(name):
            nonlocal t0
            walls[name], t0 = round(time.perf_counter() - t0, 3), time.perf_counter()

        self.setup()
        lap("setup")
        # untimed warm-up: one cycle of reads, checked like the rest
        self.phase_cycles([0], rounds=False)
        self.t.clear()
        lap("warmup")
        self.phase_cycles(range(1, self.n_cycles + 1))
        lap("cycles")
        return self.finish()

    def finish(self) -> dict:
        spark, t, lm = self.spark, self.t, self.ledger_model
        tails = {}

        def tail(key):
            v, p, beyond = pct_tail(t[key])
            tails[key] = {"percentile": p, "beyond": beyond, "samples": len(t[key])}
            return v

        n_files, n_bytes = dir_bytes(self.ledger_dir)
        n_rows, n_uploads = len(lm.rows), lm.rows.upload_id.nunique()  # every row, checked
        steal, total = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        def cpu_ms(kinds):  # mean over call kinds of each kind's median
            return 1000 * statistics.fmean(statistics.median(t[f"cpu:{k}"]) for k in kinds)

        e2e = {
            "setup_s": (self.setup_s, "s"),
            "ok_op_share": (1 - self.tally.failed / max(1, self.tally.attempted), "ratio"),
            "ledger_bytes_per_upload": (n_bytes / max(1, n_uploads), "B"),
            "ingest_cpu_ms_per_file": (1000 * sum(t["ingest_round_cpu"]) / sum(self.landed), "ms"),
            "lookup_cpu_ms": (cpu_ms(["point_lookup"]), "ms"),
            "listing_cpu_ms": (cpu_ms(["list_uploads", "as_of", "route", "replay"]), "ms"),
        }
        # Wall-clock latencies and peak memory: on a shared host they
        # track CPU steal and GC timing more than the program, so they are
        # details, not gated metrics. CPU time of the process tree leaves
        # out time the hypervisor gave to other tenants.
        self.peak_rss_mb = tree_peak_rss_mb(os.getpid())
        wall = {
            "ingest_files_per_s": sum(self.landed) / sum(t["ingest_round"]),
            "ingest_round_p50_s": statistics.median(t["ingest_round"]),
            "ingest_round_tail_s": tail("ingest_round"),
            "lookup_p50_ms": 1000 * statistics.median(t["lookup"]),
            "lookup_tail_ms": 1000 * tail("lookup"),
            "listing_p50_ms": 1000 * statistics.median(t["listing"]),
            "listing_tail_ms": 1000 * tail("listing"),
        }
        metrics = e2e
        if self.tr.enabled:
            metrics = self.layer_metrics(n_files, n_rows, n_uploads, n_bytes)
        self.info.update({
            "tails": tails,
            "end_to_end": {k: round(v, 6) for k, (v, _) in e2e.items()},
            "wall": {k: round(v, 6) for k, v in wall.items()},
            "peak_rss_mb": round(self.peak_rss_mb, 1),
            "samples": {k: [round(x, 4) for x in v] for k, v in t.items()},
            "inputs": {"files_landed": sum(self.landed) + self.shape["n_prelanded"],
                       "bucket_bytes": dir_bytes(self.bucket_dir)[1], "ledger_rows": n_rows,
                       "ledger_uploads": n_uploads, "ledger_bytes": n_bytes},
            "cpu_steal_share": round(steal / max(1, total), 4),
            "ops": {"attempted": self.tally.attempted, "missing": self.tally.missing,
                    "wrong": self.tally.wrong, "notes": self.tally.notes[:10]},
            "env": {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get(
                "SPARK_GRAFT_CPUS"), "cores_used": self.cpus, "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version")},
        })
        return {
            "correct": self.tally.wrong == 0,
            "attempted": self.tally.attempted,
            "failed": self.tally.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, n_files, n_rows, n_uploads, n_bytes) -> dict:
        tr, t = self.tr, self.t
        selfs = tr.self_times()
        med = lambda name: statistics.median(selfs[name])  # noqa: E731
        smp = lambda name: statistics.median(tr.samples[name])  # noqa: E731
        copy = os.path.join(self.base, "ledger_copy")
        shutil.copytree(self.ledger_dir, copy)
        t0 = time.perf_counter()
        self.m.ledger.compact_ledger(self.spark, copy)
        compact_s = time.perf_counter() - t0
        scanned = tr.counts["csv_source.files_scanned"]
        admitted = tr.counts["csv_source.admitted_in_scanned_rounds"]
        self.info["scanned_per_admitted_bases"] = {"scanned": scanned, "admitted": admitted}
        out = {
            "session.start_s": (self.session_start_s, "s"),
            "session.peak_rss_mb": (self.peak_rss_mb, "MB"),
            "csv_source.scan_s": (med("csv_source.scan"), "s"),
            "csv_source.files_scanned": (scanned, "count"),
            "csv_source.bytes_scanned": (tr.counts["csv_source.bytes_scanned"], "B"),
            "csv_source.scanned_per_admitted": (scanned / max(1, admitted), "ratio"),
            "keys.derive_s": (med("keys.derive"), "s"),
            "ingest.gate_s": (med("ingest.gate"), "s"),
            "ingest.gate_keys": (smp("ingest.gate_keys"), "count"),
            "ingest.admitted": (tr.counts["ingest.admitted"], "count"),
            "ingest.skipped_done": (tr.counts["ingest.skipped_done"], "count"),
            "ingest.retried_failed": (tr.counts["ingest.retried_failed"], "count"),
            "ingest.batch_s": (med("ingest.batch"), "s"),
            "ledger.read_s": (med("ledger.read"), "s"),
            "ledger.latest_wins_s": (med("ledger.latest_wins"), "s"),
            "ledger.append_s": (med("ledger.append"), "s"),
            "ledger.files": (n_files, "count"),
            "ledger.rows": (n_rows, "count"),
            "ledger.rows_per_upload": (n_rows / max(1, n_uploads), "ratio"),
            "ledger.bytes": (n_bytes, "B"),
            "ledger.point_lookup_s": (med("ledger.point_lookup"), "s"),
            "ledger.list_uploads_s": (med("ledger.list_uploads"), "s"),
            "ledger.as_of_s": (med("ledger.as_of"), "s"),
            "ledger.compact_s": (compact_s, "s"),
            "dlq.route_s": (med("dlq.route"), "s"),
            "dlq.replay_s": (med("dlq.replay"), "s"),
            "dlq.terminal": (smp("dlq.terminal"), "count"),
            "ledger.jobs_per_call": (smp("ledger.jobs_per_call"), "count"),
            "dlq.jobs_per_call": (smp("dlq.jobs_per_call"), "count"),
        }
        traced, untraced = (statistics.median(t[f"read_cpu_{k}"]) for k in ("traced", "untraced"))
        self.info["trace_overhead_cpu_s"] = round(traced - untraced, 4)
        out["trace.overhead_ratio"] = (traced / untraced, "ratio")
        return out


def load_program():
    """Import the program's modules; None when the checkout lacks them."""
    import importlib
    from types import SimpleNamespace

    names = ("session", "operators.ingest", "operators.ledger", "operators.dlq",
             "sources.csv_source", "functions.keys", "schemas")
    try:
        mods = {n.rsplit(".", 1)[-1]: importlib.import_module(f"{PKG}.{n}") for n in names}
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return None
    return SimpleNamespace(**mods, LEDGER_SCHEMA=mods["schemas"].LEDGER_SCHEMA)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # everything the run writes stays inside the checkout
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # C1-only JIT: a run's JVM lives about a minute, too short for C2 to
    # pay back its compile time, and C2 compiling mid-run drifts the timings
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    mods = load_program()
    if mods is None:
        return 3
    os.makedirs(tmp, exist_ok=True)
    bench = Bench(args, mods)
    try:
        result = bench.run()
        if args.trace:
            bench.tr.write(os.path.join(ROOT, ".perfbench",
                                        f"trace-{args.workload}-{args.seed}.jsonl"))
        print(json.dumps(bench.info))
        print(json.dumps(result))
        return 0
    finally:
        stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
