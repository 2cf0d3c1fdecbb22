"""The two replay workloads: ``bulk_replay`` (cold build of an empty lake
table from a parquet-staged change stream, submitted as a declarative job)
and ``tail_serve`` (small merge-on-read epochs tailed from an Iceberg
landing zone into a pre-built table, with a consumer reading after every
commit). Both are closed loops with one client: each operation starts when
the previous one has returned.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from check_correctness import _hash_rows
from common import Bench, log, median, timed
import oracle
import probes
from arc_spark.lake.table import LakeTable

SIZES = {
    # bulk: ~100k keys (200 repos x 500 paths, power-law repo skew), every
    # cycle a cold build of the whole stream, then ``READ_ROUNDS`` rounds of
    # one read of each kind; tail: 500 x 5000 keys, base table pre-built,
    # every cycle the ``TAIL_EPOCHS`` epochs on a fresh copy of it (each
    # epoch under 5% of the table, so "auto" writes merge-on-read deltas),
    # then ``FULL_READS`` full reads of the final table. ``*_cycle_s``: a
    # cycle's wall on a 4-core machine, which sets how many a run measures.
    "full": dict(bulk_events=12_000, bulk_batch=6_000, bulk_cycle_s=7.8,
                 tail_base=9_000, tail_batch=400, tail_cycle_s=9.5,
                 lookup_keys=50, probe_events=8_000),
    "smoke": dict(bulk_events=2_000, bulk_batch=1_000, bulk_cycle_s=1,
                  tail_base=2_000, tail_batch=50, tail_cycle_s=1,
                  lookup_keys=8, probe_events=1_000),
}
READ_ROUNDS = 2
TAIL_EPOCHS = 2
FULL_READS = 2
STAGE_PARTITIONS = 8
TAIL_KEYSPACE = dict(n_repos=500, paths_per_repo=5000)
COLS = ("repo", "path", "seq", "content_sha256")
CHANGE_COLS = ("repo", "path", "seq", "op", "content_sha256")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _key_sets(df, seq_sets: list[list[int]]) -> list[list[tuple]]:
    """The (repo, path) keys of the events at each set of seqs, in one job
    (schema-change events carry no key and are skipped)."""
    wanted = [q for qs in seq_sets for q in qs]
    at = {r[0]: (r[1], r[2]) for r in df.filter(df.seq.isin(wanted))
          .filter(df.path.isNotNull()).select("seq", "repo", "path").collect()}
    return [sorted({at[q] for q in qs if q in at}) for qs in seq_sets]


def _consumer_rows(df) -> list[tuple]:
    return [tuple(r) for r in df.select(*COLS).collect()]


def _changes_rows(df) -> list[tuple]:
    return [
        (r[0], r[1], r[2], r[3], r[4] if r[3] == "upsert" else None)
        for r in df.select(*CHANGE_COLS).collect()
    ]


class ReplayWorkload:
    """State shared by both replay workloads: samples, reads, checks."""

    def __init__(self, bench: Bench, tracer):
        self.b = bench
        self.t = tracer
        self.size = SIZES[bench.size]
        names = ("events", "replay_s", "commit_s", "lookup_s", "changes_since_s",
                 "full_read_s")
        self.samples = {k: [] for k in names}  # the measured, untraced cycles
        self.traced_samples = {k: [] for k in names}
        self.rec = None  # where the running cycle records; None while warming up
        self.cycle_s: list[float] = []
        self.outputs: list[dict] = []  # per cycle, checked after timing
        self.traced_out = None
        self.tables = 0

    def fresh_root(self) -> str:
        self.tables += 1
        root = self.b.path(f"lake-{self.tables}")
        shutil.rmtree(root, ignore_errors=True)
        return root

    def record(self, name: str) -> list:
        """The running cycle's sample list ``name`` (a throwaway one while
        warming up)."""
        return self.rec[name] if self.rec is not None else []

    def _timed(self, name: str):
        return timed(self.record(name))

    # -- the consumer -------------------------------------------------

    def lookup(self, table, keys) -> list[tuple]:
        with self.t.span("consumer.lookup", jobs=True):
            with self._timed("lookup_s"):
                df = table.lookup(self.b.spark, keys)
                rows = _consumer_rows(df)
        if self.t.enabled:
            self.t.count("lake.table.lookup_input_bytes", probes.input_bytes(df))
        self.b.sample_rss()
        return rows

    def changes_since(self, table, since: int) -> list[tuple]:
        with self.t.span("consumer.changes_since", jobs=True):
            with self._timed("changes_since_s"):
                df = table.changes_since(self.b.spark, since)
                rows = _changes_rows(df)
        if self.t.enabled:
            self.t.count("lake.table.changes_since_input_bytes", probes.input_bytes(df))
        self.b.sample_rss()
        return rows

    def full_read(self, table) -> int:
        with self.t.span("consumer.full_read", jobs=True):
            with self._timed("full_read_s"):
                n = table.read(self.b.spark).count()
        self.b.sample_rss()
        return n

    # -- the measured loop ----------------------------------------------

    def run_cycle(self, rec) -> float:
        """One cycle recording into ``rec``; its wall seconds."""
        self.rec = rec
        t0 = time.perf_counter()
        try:
            self.outputs.append(self.cycle())
        finally:
            self.rec = None
        return time.perf_counter() - t0

    def measure(self, traced_cycle: bool = False) -> None:
        """Closed loop of ``seconds / cycle_s`` whole cycles, rounded (at
        least one): the same work at any machine speed, about ``seconds``
        long on the reference machine. With ``traced_cycle`` instead: one
        untraced cycle, one traced cycle with the layer probes installed,
        for the per-layer numbers, and one more untraced cycle; the tracing
        overhead is the traced cycle's wall over the mean of its two
        neighbours."""
        n = 1 if traced_cycle else round(self.b.seconds / self.size[self.cycle_key])
        for _ in range(max(1, n)):
            self.cycle_s.append(self.run_cycle(self.samples))
        if not traced_cycle:
            return
        self.t.enabled = True
        probes.install(self.t)
        self.window = [time.time(), None]
        try:
            with self.t.span("cycle", jobs=True):
                traced_s = self.run_cycle(self.traced_samples)
        finally:
            self.t.unpatch_all()
            self.t.enabled = False
        self.window[1] = time.time()
        self.traced_out = self.outputs[-1]
        after_s = self.run_cycle(None)
        self.trace_overhead = traced_s / ((self.cycle_s[-1] + after_s) / 2)
        log(f"{self.name}: tracing overhead {self.trace_overhead:.4f} (traced cycle "
            f"{traced_s:.3f} s, untraced neighbours {self.cycle_s[-1]:.3f} s and "
            f"{after_s:.3f} s)")

    def warm_up(self) -> None:
        """One whole cycle, not recorded or kept, for the JIT and the Arrow
        worker pool."""
        shutil.rmtree(self.cycle()["root"], ignore_errors=True)

    def metrics(self, traced: bool = False) -> dict[str, tuple[float, str]]:
        """``events_per_s``: every measured event over the summed replay
        walls; the rest: medians over every sample of the measured cycles."""
        s = self.traced_samples if traced else self.samples
        return {
            "events_per_s": (sum(s["events"]) / sum(s["replay_s"]), "1/s"),
            "commit_p50_s": (median(s["commit_s"]), "s"),
            "lookup_p50_s": (median(s["lookup_s"]), "s"),
            "changes_since_p50_s": (median(s["changes_since_s"]), "s"),
            "full_read_s": (median(s["full_read_s"]), "s"),
        }

    def sample_counts(self) -> dict[str, int]:
        return {k: len(v) for k, v in self.samples.items()}

    def layer_metrics(self) -> dict[str, float]:
        """Storage and runner ratios of the traced cycle's table."""
        out = self.traced_out
        hist = table_history(out["root"], self.base_version)
        m = {
            "cdc.runner.apply_ratio": sum(e["keys_applied"] for e in out["epochs"])
            / max(1, sum(e["events_read"] for e in out["epochs"])),
            "lake.table.write_amp": hist["bytes_written"] / self.event_bytes,
            "lake.table.space_amp": space_amp(self.b.spark, out["root"],
                                              self.b.path("live-rows")),
        }
        m.update({f"lake.table.{k}": v for k, v in hist.items() if k != "bytes_written"})
        return m

    # -- checks ---------------------------------------------------------

    def check_reads(self, out: dict, expect_lookup, expect_changes, expect_count,
                    live: tuple) -> None:
        """One cycle's outputs against the oracle answers, by read index;
        ``live`` is the digest of the expected final table."""
        b = self.b
        for i, rows in enumerate(out["lookups"]):
            want = expect_lookup(i)
            b.check("lookup", _hash_rows(COLS, rows) == _hash_rows(COLS, want),
                    f"lookup {i}: {len(rows)} rows, oracle {len(want)}")
        for i, rows in enumerate(out["changes"]):
            want = expect_changes(i)
            b.check("changes_since",
                    _hash_rows(CHANGE_COLS, rows) == _hash_rows(CHANGE_COLS, want),
                    f"changes_since {i}: {len(rows)} rows, oracle {len(want)}")
        for i, n in enumerate(out["counts"]):
            want = expect_count(i)
            b.check("full_read", n == want, f"count {i}: {n}, oracle {want}")
        got = oracle.digest(LakeTable(out["root"]).read(b.spark))
        b.check("final_table", got == live, f"digest {got}, oracle {live}")
        for m in out["epochs"]:
            b.check("epoch", m.get("status") == "committed", str(m.get("status")))


def table_history(root: str, v0: int) -> dict[str, float]:
    """Storage-side counts over the table versions after ``v0``: files and
    bytes written, MOR folds and the longest delta chain."""
    t = LakeTable(root)
    prev = set(t.snapshot(v0).file_list())
    prev_deltas = sum(len(v) for v in t.snapshot(v0).delta_files.values())
    written, nbytes, folds, chain = 0, 0, 0, 0
    for v in range(v0 + 1, t.current_version() + 1):
        snap = t.snapshot(v)
        files = set(snap.file_list())
        new = files - prev
        written += len(new)
        nbytes += sum(os.path.getsize(os.path.join(root, p)) for p in new)
        deltas = sum(len(x) for x in snap.delta_files.values())
        if prev_deltas and deltas < prev_deltas:
            folds += 1
        chain = max([chain, *(len(x) for x in snap.delta_files.values())])
        prev, prev_deltas = files, deltas
    return {"files_written": written, "bytes_written": nbytes,
            "folds": folds, "delta_chain_max": chain}


def space_amp(spark, root: str, scratch: str) -> float:
    """Table bytes (every file of the current snapshot) over live-row bytes
    (the rows a read returns, written once as a single parquet file)."""
    table = LakeTable(root)
    stored = sum(os.path.getsize(os.path.join(root, p))
                 for p in table.snapshot().file_list())
    table.read(spark).coalesce(1).write.mode("overwrite").parquet(scratch)
    return stored / _dir_bytes(scratch)


# ---------------------------------------------------------------------------


class BulkReplay(ReplayWorkload):
    name = "bulk_replay"
    cycle_key = "bulk_cycle_s"
    base_version = 0  # every cycle starts from an empty table

    def setup(self) -> None:
        from arc_spark.cdc import write_change_stream

        b, z = self.b, self.size
        spark = b.spark
        self.events = write_change_stream(
            spark, b.path("events"), z["bulk_events"], seed=b.seed,
            num_partitions=STAGE_PARTITIONS)
        self.event_bytes = _dir_bytes(self.events)
        log("bulk_replay: stream staged")
        ev = spark.read.parquet(self.events)
        ev.createOrReplaceTempView("bulk_events")
        self.view = "bulk_events"
        rng = random.Random(b.seed)
        self.keys = _key_sets(ev, [rng.sample(range(z["bulk_events"]), z["lookup_keys"])])[0]
        self.since = z["bulk_events"] - z["bulk_batch"] - 1
        log("bulk_replay: lookup keys chosen")
        self.warm_up()

    def replay(self, table_root: str, batch: int, max_epochs: int | None = None
               ) -> tuple[float, list]:
        """The replay as users submit it: a declarative job with one
        CDCReplayExecute stage. Returns (wall seconds, epoch metrics)."""
        from arc_spark.pipeline.config import run_config

        stage = {"type": "CDCReplayExecute", "name": "bulk replay",
                 "environments": ["production"], "eventsURI": self.events,
                 "tableURI": table_root, "batchSize": batch}
        if max_epochs:
            stage["maxEpochs"] = max_epochs
        t0 = time.perf_counter()
        with self.t.span("pipeline.run_config", jobs=True):
            _, ctx = run_config(self.b.spark, {"stages": [stage]})
        wall = time.perf_counter() - t0
        epochs = [e for e in ctx.events if e.get("event") == "epoch.complete"]
        return wall, epochs

    def cycle(self) -> dict:
        """A cold build of the whole stream, then rounds of one read of
        each kind."""
        root = self.fresh_root()
        wall, epochs = self.replay(root, self.size["bulk_batch"])
        self.b.sample_rss()
        self.record("events").append(sum(e["events_read"] for e in epochs))
        self.record("replay_s").append(wall)
        self.record("commit_s").extend(e["duration_sec"] for e in epochs)
        table = LakeTable(root)
        out = {"root": root, "epochs": epochs, "lookups": [], "changes": [], "counts": []}
        for _ in range(READ_ROUNDS):
            out["lookups"].append(self.lookup(table, self.keys))
            out["changes"].append(self.changes_since(table, self.since))
            out["counts"].append(self.full_read(table))
        return out

    def check(self) -> None:
        b, spark = self.b, self.b.spark
        last = self.size["bulk_events"] - 1
        live = oracle.digest(oracle.state(spark, self.view, last))
        wanted = set(self.keys)
        rows = oracle.events(spark, self.view,
                             f"{oracle.keys_clause(wanted)} OR seq > {self.since}")
        found = oracle.lww([r for r in rows if (r[0], r[1]) in wanted])
        changed = oracle.lww([r for r in rows if r[2] > self.since], with_deletes=True)
        for out in self.outputs:
            self.check_reads(out, lambda i: found, lambda i: changed,
                             lambda i: live[0], live)

    def kernel_input(self):
        """One epoch's worth of events, for the isolated kernel runs."""
        ev = self.b.spark.read.parquet(self.events)
        return ev.filter(ev.seq < self.size["bulk_batch"]).filter(ev.op != "schema-change")

    def probe_rate(self) -> float:
        """events/s of a one-epoch cold-table replay of the stream's first
        ``probe_events`` (after one warm-up replay), for the parallel
        efficiency ratio."""
        n = self.size["probe_events"]
        self.replay(self.fresh_root(), n, max_epochs=1)
        wall, epochs = self.replay(self.fresh_root(), n, max_epochs=1)
        return sum(e["events_read"] for e in epochs) / wall


class TailServe(ReplayWorkload):
    name = "tail_serve"
    cycle_key = "tail_cycle_s"

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from arc_spark.cdc import ReplayRunner
        from arc_spark.cdc.bootstrap import create_table_for_stream
        from arc_spark.cdc.generator import change_stream
        from arc_spark.lake.iceberg_export import write_iceberg

        b, z = self.b, self.size
        spark = b.spark
        n0, tb, ne = z["tail_base"], z["tail_batch"], TAIL_EPOCHS
        # one stream, landed in the Iceberg landing zone: the base as one
        # snapshot, then one snapshot per tail epoch
        self.landing = b.path("landing")
        stream = change_stream(spark, n0 + ne * tb, seed=b.seed, **TAIL_KEYSPACE)
        write_iceberg(spark, stream.filter(F.col("seq") < n0).coalesce(STAGE_PARTITIONS),
                      self.landing)
        base_bytes = _dir_bytes(os.path.join(self.landing, "data"))
        for e in range(ne):
            lo = n0 + e * tb
            write_iceberg(spark, stream.filter((F.col("seq") >= lo) & (F.col("seq") < lo + tb))
                          .coalesce(1), self.landing)
        self.event_bytes = _dir_bytes(os.path.join(self.landing, "data")) - base_bytes
        log("tail_serve: stream landed")
        table, _ = create_table_for_stream(spark, self.landing, b.path("base-lake"),
                                           events_format="iceberg")
        ReplayRunner(spark, self.landing, table, batch_size=n0, merge_mode="cow",
                     events_format="iceberg").run(max_epochs=1)
        log(f"tail_serve: base table built, {table.snapshot().total_rows} rows")
        self.base_version = table.current_version()
        ev = spark.read.parquet(os.path.join(self.landing, "data", "*"))
        ev.createOrReplaceTempView("tail_events")
        self.view = "tail_events"
        rng = random.Random(b.seed)
        self.key_sets = _key_sets(ev, [
            rng.sample(range(n0 + e * tb, n0 + (e + 1) * tb), z["lookup_keys"])
            for e in range(ne)])
        log("tail_serve: lookup keys chosen")
        self.warm_up()

    def cycle(self) -> dict:
        """The landed epochs on a fresh copy of the base table, each
        commit followed by a lookup and a changes_since, then full reads
        of the final table."""
        from arc_spark.cdc import ReplayRunner

        b, z = self.b, self.size
        n0, tb = z["tail_base"], z["tail_batch"]
        root = self.fresh_root()
        shutil.copytree(b.path("base-lake"), root)  # reset, outside timing
        table = LakeTable(root)
        runner = ReplayRunner(b.spark, self.landing, table, batch_size=tb,
                              events_format="iceberg")
        out = {"root": root, "epochs": [], "lookups": [], "changes": [], "counts": []}
        for e in range(TAIL_EPOCHS):
            t0 = time.perf_counter()
            runner.run(max_epochs=1)
            wall = time.perf_counter() - t0
            b.sample_rss()
            out["epochs"].append(runner.metrics[-1])
            self.record("commit_s").append(wall)
            self.record("replay_s").append(wall)
            self.record("events").append(runner.metrics[-1]["events_read"])
            out["lookups"].append(self.lookup(table, self.key_sets[e]))
            out["changes"].append(self.changes_since(table, n0 + e * tb - 1))
        for _ in range(FULL_READS):
            out["counts"].append(self.full_read(table))
        return out

    def check(self) -> None:
        b, spark = self.b, self.b.spark
        z = self.size
        n0, tb = z["tail_base"], z["tail_batch"]
        last = n0 + TAIL_EPOCHS * tb - 1
        live = oracle.digest(oracle.state(spark, self.view, last))
        wanted = {k for ks in self.key_sets for k in ks}
        rows = oracle.events(spark, self.view,
                             f"{oracle.keys_clause(wanted)} OR seq >= {n0}")
        lookups, changes = [], []
        for e, keys in enumerate(self.key_sets):
            lo, hi, ks = n0 + e * tb, n0 + (e + 1) * tb - 1, set(keys)
            lookups.append(oracle.lww([r for r in rows
                                       if r[2] <= hi and (r[0], r[1]) in ks]))
            changes.append(oracle.lww([r for r in rows if lo <= r[2] <= hi],
                                      with_deletes=True))
        for out in self.outputs:
            self.check_reads(out, lambda i: lookups[i], lambda i: changes[i],
                             lambda i: live[0], live)

    def kernel_input(self):
        from arc_spark.lake.iceberg_read import read_iceberg

        ev = read_iceberg(self.b.spark, self.landing)
        lo = self.size["tail_base"]
        return ev.filter((ev.seq >= lo) & (ev.seq < lo + self.size["tail_batch"])) \
            .filter(ev.op != "schema-change")
