"""The workloads: fixture set-up, closed loop, correctness gate.

Each workload drives the engine only through its public API (``Table``,
``CompactionRunner``, ``merge_into``, ``delete_where``,
``operators.maintenance``, ``sources.generator``) with one closed-loop
client: the next operation starts when the previous one returns. The
seed picks which keys are merged, deleted and looked up, and in what
order. Every timed read ends in the checksum action of ``model.py``, and
every checksum is compared with the independent recompute; a mismatch
counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import nullcontext

from pyspark.sql import functions as F

from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.operators import delete_where as delete_mod
from iceberg_compaction_spark.operators import maintenance
from iceberg_compaction_spark.operators import merge_into as merge_mod
from iceberg_compaction_spark.plans import compaction
from iceberg_compaction_spark.sources import generator as gen
from iceberg_compaction_spark.sources.table import Table

from perfbench.model import KEYS, Model, checksum, rows_df

MB = 1 << 20
ROLES = ("user", "assistant", "system", "tool")


class Keys:
    """Python mirror of ``transcripts_df``'s closed-form key layout:
    row ``i`` is turn ``t`` of conversation ``c``, stamped ``base + i*step``."""

    def __init__(self, n_turns: int, n_convs: int, step: int, hot_share: float = 0.2):
        self.n, self.n_convs, self.step = n_turns, n_convs, step
        self.hot_n = int(n_turns * hot_share)
        self.tail = n_convs - 1

    @staticmethod
    def conv_id(c: int) -> str:
        return f"conv_{c:08d}"

    def turns(self, c: int) -> int:
        if c == 0:
            return self.hot_n
        k = self.n - self.hot_n - (c - 1)
        return 0 if c > self.tail or k <= 0 else (k - 1) // self.tail + 1

    def ts(self, c: int, t: int) -> int:
        i = t if c == 0 else self.hot_n + t * self.tail + (c - 1)
        return gen.DEFAULT_BASE_TS + i * self.step

    @property
    def last_day(self) -> int:
        """Epoch second where the generated data's last day starts."""
        return gen.DEFAULT_BASE_TS + max(0, self.n * self.step - 86_400)

    def first_turn_at(self, c: int, ts: int) -> int:
        """The first turn of tail conversation ``c`` stamped at or after ``ts``."""
        i = -(-(ts - gen.DEFAULT_BASE_TS) // self.step)
        return max(0, -(-(i - self.hot_n - (c - 1)) // self.tail))

    def df(self, spark):
        return gen.transcripts_df(spark, self.n, self.n_convs, ts_step_s=self.step)


def make_row(c: int, t: int, ts: int, rev: str) -> tuple:
    conv = Keys.conv_id(c)
    digest = hashlib.md5(f"{rev}:{c}:{t}".encode()).hexdigest()
    pad = (" " + digest) * ((c * 31 + t * 7) % 24)
    tool = "search" if t % 7 == 0 else ("python" if t % 7 == 3 else None)
    role = ROLES[t % 4]
    return (conv, t, role, f"turn {t} of {conv} role {role} {rev}:{pad}", tool, ts)


def row_bytes(r: tuple) -> int:
    """Bytes of one submitted user row: strings as UTF-8, int 4, ts 8."""
    return len(r[0]) + 4 + len(r[2]) + len(r[3].encode()) + len(r[4] or "") + 8


def ts_literal(epoch_s: int) -> str:
    d = dt.datetime.fromtimestamp(epoch_s, tz=dt.timezone.utc)
    return f"TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}'"


def tree_sizes(root: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


class Workload:
    name = ""
    primary = ""  # op kind whose median is op_p50_ms

    def __init__(self, spark, seed: int, scale: float, root: str, tracer=None):
        self.spark = spark
        self.rng = random.Random(seed)
        self.scale = scale
        self.root = root
        self.tracer = tracer
        self.records: list[dict] = []
        self.table: Table | None = None
        self.detail: dict = {}
        self.warming = False  # the untimed warm-up round is running
        self._n_setup = 0

    # -- harness -------------------------------------------------------
    @property
    def tracing(self) -> bool:
        return self.tracer is not None and not self.warming

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else nullcontext()

    def timed(self, kind: str, fn, loop: bool = True, **attrs) -> dict:
        """Run one operation under the clock; an exception is recorded as
        a failed operation and the run goes on. Warm-up operations are
        checked and count in ``attempted``, but no metric uses their time."""
        ctx = self.tracer.op(kind) if self.tracing else nullcontext()
        rec = {"kind": kind, "loop": loop and not self.warming, "warm": self.warming,
               "ok": True, "out": None, **attrs}
        c0, t0 = time.process_time(), time.perf_counter()
        try:
            with ctx as op:
                if op is not None:
                    rec["op_id"] = op["id"]
                rec["out"] = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = time.process_time() - c0
        self.records.append(rec)
        return rec

    def read(self, kind: str, make_df, expect=None, loop: bool = True) -> dict:
        """A timed read: plan the scan, then one checksum action. With
        ``expect`` the result is checked at once; otherwise the caller
        checks it later via ``check``."""

        def fn():
            df = make_df()
            with self.span("exec.checksum"):
                return checksum(df)

        rec = self.timed(kind, fn, loop=loop)
        if expect is not None:
            self.check(rec, expect)
        return rec

    def check(self, rec: dict, expect: tuple) -> None:
        if rec["ok"] and rec["out"] != tuple(expect):
            print(
                f"[{self.name}] WRONG RESULT {rec['kind']}: got {rec['out']} want {tuple(expect)}",
                file=sys.stderr,
            )
            rec["ok"] = False

    def fresh_location(self) -> str:
        self._n_setup += 1
        return os.path.join(self.root, "warehouse", f"{self.name}-{self._n_setup}")

    def drop_table(self) -> None:
        if self.table is not None:
            shutil.rmtree(self.table.location, ignore_errors=True)
            self.table = None

    def note_depth(self, rec: dict) -> None:
        sid = self.table.current_snapshot_id
        rec["delta_depth"] = self.table.snapshot(sid).get("delta_depth", 0) if sid else 0

    def live_bytes(self) -> int:
        return sum(r["size_bytes"] for r in self.table.files())

    # -- lifecycle -----------------------------------------------------
    #: the operations of one round of the closed loop, in order
    ROUND: tuple = ()
    #: the operations of the untimed warm-up, in order
    WARM_UP: tuple = ()

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed work between the last set-up and the loop."""

    def step(self, kind: str) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Work after the loop, including the deferred correctness checks."""

    def warm_up(self) -> None:
        """Operations whose times no metric uses: a process's first
        operation of each kind pays code generation and JIT warm-up, and
        how many of those fall in the loop would depend on the host's speed."""
        self.warming = True
        try:
            for kind in self.WARM_UP:
                self.step(kind)
        finally:
            self.warming = False

    def loop(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` have passed, so every run executes
        the same mix; ``seconds`` = 0 runs exactly one round."""
        t0 = time.perf_counter()
        i = 0
        while True:
            if i % len(self.ROUND) == 0 and i > 0 and time.perf_counter() - t0 >= seconds:
                break
            self.step(self.ROUND[i % len(self.ROUND)])
            i += 1

    # -- results -------------------------------------------------------
    def walls(self, kind: str) -> list[float]:
        return [r["wall"] for r in self.records
                if r["kind"] == kind and r["ok"] and not r["warm"]]

    def end_to_end(self) -> dict:
        # every timed operation counts at its kind's median time, so one
        # slow operation (a GC pause, a burst on the host) moves the rate
        # no more than it moves that median
        kinds = Counter(r["kind"] for r in self.records if r["loop"])
        medians = {k: statistics.median(w) for k in kinds if (w := self.walls(k))}
        return {
            "op_p50_ms": medians[self.primary] * 1000.0,
            "ops_per_s": sum(kinds.values()) / sum(kinds[k] * m for k, m in medians.items()),
            "scan_turns_per_s": self.live_turns / statistics.median(self.walls("scan_full")),
            "bytes_per_live_turn": self.bytes_per_live_turn,
        }

    def op_detail(self) -> list[tuple]:
        """(name, value, unit, samples): the median of each op kind."""
        kinds = dict.fromkeys(r["kind"] for r in self.records)
        return [
            (f"{kind}_p50_ms", statistics.median(w) * 1000.0, "ms", len(w))
            for kind in kinds
            if (w := self.walls(kind))
        ]


# ======================================================================
class CompactMor(Workload):
    """Repeated merge-on-read compaction of a small-file table."""

    name = "compact_mor"
    primary = "compact"
    # a full scan of the compacted table is short (≈ 0.2 s), so each round
    # scans it several times and ``scan_turns_per_s`` is a median of many
    ROUND = ("compact", *("scan_full",) * 5, "maintain")
    # a whole round: the scans keep speeding up over the first few
    WARM_UP = ROUND

    N_TURNS, N_CONVS, N_FILES = 120_000, 600, 48
    MERGE_CONVS = 8  # ≈ 1.4k source rows
    CONFIG = CompactionConfig(
        target_file_size_bytes=4 * MB, group_target_size_bytes=4 * MB
    )

    def setup(self) -> None:
        n = max(2_000, int(self.N_TURNS * self.scale))
        self.keys = k = Keys(n, max(4, int(self.N_CONVS * self.scale)), step=1)
        self.model = Model(self.spark, k.df(self.spark))
        tb = gen.create_transcripts_table(
            self.spark, self.fresh_location(), n_turns=n, n_convs=k.n_convs,
            n_files=self.N_FILES, partitioned=False,
        )
        convs = self.rng.sample(range(1, k.n_convs), min(self.MERGE_CONVS, k.n_convs - 1))
        rows = [
            make_row(c, t, k.ts(c, t), "rev1")
            for c in convs
            for t in range(k.turns(c) + 10)
        ]
        merge_mod.merge_into(tb, rows_df(self.spark, rows), list(KEYS))
        self.model.upsert(rows)
        pred = f"turn_idx % 89 = {self.rng.randrange(89)}"
        delete_mod.delete_where(self.spark, tb, pred)
        self.model.delete(pred)
        self.table = tb

    def prepare(self) -> None:
        self.expected = checksum(self.model.state())
        self.live_turns = self.expected[0]
        self.base_sid = self.table.current_snapshot_id
        self.input_bytes = self.live_bytes()
        self.created = []
        self.warm_up()

    def step(self, kind: str) -> None:
        tb = self.table
        if kind == "compact":
            before = tree_sizes(tb.location)
            rec = self.timed("compact", lambda: compaction.CompactionRunner(
                self.spark, tb, self.CONFIG).execute())
            self.note_depth(rec)
            after = tree_sizes(tb.location)
            self.created.append(sum(s for p, s in after.items() if p not in before))
            self.bytes_per_live_turn = self.live_bytes() / max(1, self.live_turns)
        elif kind == "scan_full":
            self.read("scan_full", lambda: tb.scan(self.spark), expect=self.expected)
        else:
            # back to the pre-compaction content (untimed), then the
            # clean-up that follows any compaction: it deletes the
            # rewritten files
            tb.rollback_to(self.base_sid)
            self.timed("maintain", self.maintain)
            self.base_sid = tb.current_snapshot_id

    def maintain(self) -> None:
        maintenance.expire_snapshots(self.table, retain_last=1)
        maintenance.clean_orphan_files(self.table)
        maintenance.rewrite_manifests(self.table)

    def finish(self) -> None:
        compact = self.walls("compact")
        self.detail["compact_mb_per_s"] = (
            self.input_bytes / MB / statistics.median(compact), "MB/s", len(compact))
        self.detail["write_amp"] = (
            statistics.median(self.created) / self.input_bytes, "ratio", len(self.created))


# ======================================================================
class IngestMerge(Workload):
    """A seeded stream of small upserts, deletes and appends aimed at the
    newest day, with read-your-write lookups and one maintenance cycle
    per round."""

    name = "ingest_merge"
    primary = "merge"
    ROUND = ("merge", "delete_conv", "merge", "lookup", "append", "delete_time", "merge",
             "maintain")
    # one of each kind: a whole round would add ≈ 6 s to every run
    WARM_UP = tuple(dict.fromkeys(ROUND))

    N_TURNS, N_CONVS, DAYS, SHARDS = 100_000, 500, 4, 8
    MERGE_CONVS = 20  # ≈ 1.3k source rows: each conversation's last day + 10 new turns
    APPEND_ROWS = 300
    FULL_SCANS = 5  # after the loop, untimed by ``ops_per_s``
    CONFIG = dict(target_file_size_bytes=4 * MB, group_target_size_bytes=16 * MB)

    def setup(self) -> None:
        n = max(2_000, int(self.N_TURNS * self.scale))
        step = max(1, self.DAYS * 86_400 // n)
        self.keys = k = Keys(n, max(4, int(self.N_CONVS * self.scale)), step=step)
        tb = Table.create(self.fresh_location(), gen.TRANSCRIPT_DDL,
                          partition=gen.day_partition_spec())
        tb.set_bloom_columns(["conv_id"], ndv=4 * k.n_convs)
        tb.append_dataframe(
            k.df(self.spark).repartition(self.SHARDS, F.xxhash64(*KEYS)))
        self.table = tb

    def prepare(self) -> None:
        self.model = Model(self.spark, self.keys.df(self.spark))
        self.appends = 0
        self.probe = Keys.conv_id(0)  # the conversation the last write touched
        self.pending_checks: list[tuple] = []  # (rec, conv_id, upto)
        self.submitted = 0
        self.created = 0
        self.maintained_sid = self.table.current_snapshot_id
        self.warm_up()

    def _timed_write(self, kind: str, fn, rows=()) -> None:
        tb = self.table
        before = tree_sizes(tb.location)
        rec = self.timed(kind, fn, source_rows=len(rows))
        self.note_depth(rec)
        after = tree_sizes(tb.location)
        self.created += sum(s for p, s in after.items() if p not in before)
        self.submitted += sum(row_bytes(r) for r in rows)

    def step(self, kind: str) -> None:
        k, tb, rng = self.keys, self.table, self.rng
        if kind == "merge":
            convs = rng.sample(range(1, k.n_convs), min(self.MERGE_CONVS, k.n_convs - 1))
            rev = f"m{self.model.version}"
            rows = [make_row(c, t, k.ts(c, t), rev) for c in convs
                    for t in range(k.first_turn_at(c, k.last_day), k.turns(c) + 10)]
            src = rows_df(self.spark, rows)
            self._timed_write("merge", lambda: merge_mod.merge_into(tb, src, list(KEYS)), rows)
            self.model.upsert(rows)
            self.probe = Keys.conv_id(convs[0])
        elif kind.startswith("delete"):
            if kind == "delete_conv":
                c = rng.randrange(1, k.n_convs)
                self.probe = Keys.conv_id(c)
                first = k.first_turn_at(c, k.last_day)
                pred = (f"conv_id = '{self.probe}' AND turn_idx >= "
                        f"{rng.randrange(first, max(first + 1, k.turns(c)))}")
            else:
                lo = k.last_day + rng.randrange(86_400 - 1200)
                pred = f"ts >= {ts_literal(lo)} AND ts < {ts_literal(lo + 1200)}"
            self._timed_write("delete", lambda: delete_mod.delete_where(self.spark, tb, pred))
            self.model.delete(pred)
        elif kind == "append":
            c = k.n_convs + self.appends
            self.appends += 1
            off = rng.randrange(86_400)
            rows = [make_row(c, t, k.last_day + (off + t * 97) % 86_400, "a")
                    for t in range(self.APPEND_ROWS)]
            src = rows_df(self.spark, rows)
            self._timed_write("append", lambda: tb.append_dataframe(src), rows)
            self.model.upsert(rows)
            self.probe = Keys.conv_id(c)
        elif kind == "lookup":
            conv = self.probe
            rec = self.read("fresh_lookup",
                            lambda: tb.scan(self.spark, filter=f"conv_id = '{conv}'"))
            self.pending_checks.append((rec, conv, self.model.version))
        else:
            self._timed_write("maintain", self.maintain)

    def maintain(self) -> None:
        tb = self.table
        touched: set = set()
        sid = tb.current_snapshot_id
        while sid is not None and sid != self.maintained_sid:
            snap = tb.snapshot(sid)
            touched |= set(snap.get("touched_partitions") or ())
            sid = snap["parent_id"]
        if touched:
            cfg = CompactionConfig(partition_filter=tuple(sorted(touched)), **self.CONFIG)
            compaction.CompactionRunner(self.spark, tb, cfg).execute()
        maintenance.expire_snapshots(tb, retain_last=1)
        maintenance.clean_orphan_files(tb)
        maintenance.rewrite_manifests(tb)
        self.maintained_sid = tb.current_snapshot_id

    def finish(self) -> None:
        tb = self.table
        with self.model.cached():
            expected = checksum(self.model.state())
            got = self.model.conv_checksums_at(
                [(i, conv, upto) for i, (_, conv, upto) in enumerate(self.pending_checks)])
        self.live_turns = expected[0]
        for _ in range(self.FULL_SCANS):
            self.read("scan_full", lambda: tb.scan(self.spark), expect=expected, loop=False)
        self.bytes_per_live_turn = self.live_bytes() / max(1, self.live_turns)
        for i, (rec, _, _) in enumerate(self.pending_checks):
            self.check(rec, got[i])
        loop = [r for r in self.records if r["loop"]]
        self.detail["write_ops_per_s"] = (
            sum(1 for r in loop if r["kind"] in ("merge", "delete", "append"))
            / sum(r["wall"] for r in loop), "1/s", len(loop))
        self.detail["write_amp"] = (self.created / max(1, self.submitted), "ratio",
                                    self.model.version)


WORKLOADS = {w.name: w for w in (CompactMor, IngestMerge)}
