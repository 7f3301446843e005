"""Spans around the engine's public functions, plus Spark's event log.

The engine carries no instrumentation of its own, so the traced run
replaces public functions and methods with wrappers that record a span
(name, start, end, parent, op id, thread) while a timed operation is
open. Spans stay in memory and are written out when the run ends.

Spark work is tied to spans in two ways. Every span that can launch jobs
sets a job group ``span-<id>`` on its thread, so the event log names the
span of each job. Jobs submitted from threads the wrapper never ran on
(``CompactionRunner``'s bin threads around their parquet writes) carry
no group and are given to the innermost span of the client thread that
was open when the job was submitted. With one client that span is
unambiguous.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from iceberg_compaction_spark import metrics as engine_metrics
from iceberg_compaction_spark.functions import bloom
from iceberg_compaction_spark.operators import delete_where as delete_mod
from iceberg_compaction_spark.operators import maintenance
from iceberg_compaction_spark.operators import merge_into as merge_mod
from iceberg_compaction_spark.operators import mor
from iceberg_compaction_spark.plans import compaction, delete_scope, pruning, pruning_df
from iceberg_compaction_spark.sources import manifest, table

#: engine counters whose per-operation deltas feed the per-layer metrics
COUNTERS = (
    "compaction.write_s",
    "compaction.stats_s",
    "commit.attempts",
    "commit.conflicts",
    "scan.files_scanned",
    "scan.files_pruned",
    "scan.delete_files_attached",
    "bloom.sidecar_loads",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack: list[dict] = []
        self._op: dict | None = None
        self._patches: list[tuple] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        if threading.get_ident() == self._client:
            return self._client_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        b0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1]["id"]
        else:  # a worker thread: contained in the client's open span
            parent = self._client_stack[-1]["id"] if self._client_stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent,
            "op": self._op["id"],
            "thread": threading.get_ident(),
            "attrs": {},
        }
        prev = None
        if jobs:
            prev = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
            self.sc.setJobGroup(f"span-{sp['id']}", name)
        stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - b0
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            b1 = time.perf_counter()
            stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(sp)
                self.bookkeeping_s += time.perf_counter() - b1

    @contextmanager
    def op(self, kind: str):
        """Root span of one timed operation of the closed loop."""
        self._op = {"id": len(self.ops) + 1, "kind": kind}
        before = engine_metrics.GLOBAL.snapshot()
        try:
            with self.span(f"op.{kind}") as sp:
                self._op["span"] = sp["id"]
                yield self._op
        finally:
            after = engine_metrics.GLOBAL.snapshot()
            self._op["counters"] = {
                k: after.get(k, 0) - before.get(k, 0) for k in COUNTERS
            }
            self.ops.append(self._op)
            self._op = None

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, jobs: bool = True, after=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer._op is None:
                return orig(*args, **kwargs)
            with tracer.span(name, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp["attrs"], args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        T = table.Table
        w = self.wrap
        w(compaction.CompactionRunner, "plan", "compaction.plan",
          after=lambda a, args, kw, out: a.update(bins=len(out)))
        w(compaction.CompactionRunner, "execute", "compaction.execute",
          after=lambda a, args, kw, out: a.update(
              output_files=out.output_files,
              removed_delete_files=out.removed_delete_files,
              bin_ms=sum(r["execution_time_ms"] for r in out.lineage)))
        w(manifest, "collect_file_infos", "manifest.collect_file_infos",
          after=lambda a, args, kw, out: a.update(files=len(out)))
        w(manifest, "read_manifest", "manifest.read_manifest", jobs=False)
        w(manifest, "read_delta_manifest", "manifest.read_delta_manifest", jobs=False)
        w(T, "commit", "table.commit", jobs=False)
        w(T, "manifest", "table.manifest", jobs=False)
        w(T, "write_data_files", "table.write_data_files")
        w(T, "write_delete_files", "table.write_delete_files",
          after=lambda a, args, kw, out: a.update(
              content=args[3] if len(args) > 3 else kw.get("content"),
              rows=sum(fi.record_count for fi in out)))
        w(T, "attach_blooms", "table.attach_blooms")
        w(T, "append_dataframe", "table.append_dataframe")
        w(T, "scan", "table.scan",
          after=lambda a, args, kw, out: a.update(
              pos_opened=args[0].last_scan_pos_delete_files,
              eq_opened=args[0].last_scan_eq_delete_files))
        w(pruning, "prune_files", "pruning.prune_files", jobs=False)
        w(pruning_df, "prune_files_df", "pruning.prune_files_df")
        w(pruning_df, "classify_data_rows", "pruning.classify_data_rows")
        w(bloom, "compute_file_blooms", "bloom.compute_file_blooms")
        w(delete_scope, "scope_deletes", "mor.scope_deletes", jobs=False)
        # apply_deletes is imported by name into the table and compaction
        # modules; each reference is replaced so every call is seen
        for mod in (mor, table, compaction):
            w(mod, "apply_deletes", "mor.apply_deletes", jobs=False)
        w(merge_mod, "merge_into", "merge.merge_into")
        w(delete_mod, "delete_where", "delete.delete_where",
          after=lambda a, args, kw, out: a.update(
              dropped_files=out["dropped_files"], deleted_rows=out["deleted_rows"]))
        w(maintenance, "expire_snapshots", "maintenance.expire_snapshots",
          after=lambda a, args, kw, out: a.update(files_deleted=out.deleted_data_files))
        w(maintenance, "clean_orphan_files", "maintenance.clean_orphan_files",
          after=lambda a, args, kw, out: a.update(files_deleted=len(out)))
        w(maintenance, "rewrite_manifests", "maintenance.rewrite_manifests", jobs=False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(sp, sort_keys=True) + "\n")


# ----------------------------------------------------------------------
# event log


def read_event_log(directory: str) -> list[dict]:
    """Jobs from Spark's JSON event log: submission/completion time (s),
    job group, and the summed task metrics of the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for fn in sorted(os.listdir(directory)):
        with open(os.path.join(directory, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "id": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": 0,
                        "run_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                        "output_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    job["tasks"] += 1
                    job["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    job["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    job["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
    return [j for j in jobs.values() if j["end"] is not None]


# ----------------------------------------------------------------------
# per-layer report

#: span-name prefix → layer (the module the wrapped function lives in)
LAYERS = (
    "op", "compaction", "manifest", "table", "pruning", "bloom", "mor",
    "merge", "delete", "maintenance", "exec",
)


def _union_s(intervals) -> float:
    """Length of the union of ``(lo, hi)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """{span id: jobs}: by job group, else by time containment in the
    innermost client-thread span open at submission."""
    by_id = {sp["id"]: sp for sp in spans}
    client_threads = {sp["thread"] for sp in spans if sp["name"].startswith("op.")}
    client_spans = sorted(
        (sp for sp in spans if sp["thread"] in client_threads),
        key=lambda s: s["start"],
    )
    out: dict[int, list[dict]] = {}
    slack = 0.002  # event-log times are whole milliseconds
    for j in jobs:
        sid = None
        g = j["group"] or ""
        if g.startswith("span-") and int(g[5:]) in by_id:
            sid = int(g[5:])
        else:
            best = None
            for sp in client_spans:
                if sp["start"] - slack <= j["submit"] <= sp["end"] + slack:
                    if best is None or sp["start"] >= best["start"]:
                        best = sp
            sid = best["id"] if best else None
        if sid is not None:
            out.setdefault(sid, []).append(j)
    return out


def layer_metrics(tracer: Tracer, jobs: list[dict], cores: int) -> dict:
    """Per-layer metrics over the timed operations. Each op of the tracer
    carries ``wall`` and ``cpu`` (driver CPU) seconds as the client
    measured them, and the ``source_rows`` and ``delta_depth`` it saw."""
    spans = tracer.spans
    ops = tracer.ops
    n_ops = max(1, len(ops))
    by_name: dict[str, list[dict]] = {}
    children: dict[int, list[dict]] = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)

    def dur_ms(name: str) -> float:
        return sum(sp["end"] - sp["start"] for sp in by_name.get(name, ())) * 1000.0

    def count(name: str) -> int:
        return len(by_name.get(name, ()))

    def attr_sum(name: str, key: str) -> float:
        return sum(sp["attrs"].get(key, 0) or 0 for sp in by_name.get(name, ()))

    def per(x: float, n: int) -> float:
        return x / n if n else 0.0

    ctr = {k: sum(o["counters"][k] for o in ops) for k in COUNTERS}
    m: dict[str, float] = {}

    n_exec = count("compaction.execute")
    exec_wall = dur_ms("compaction.execute") / 1000.0
    m["compaction.plan_ms"] = per(dur_ms("compaction.plan"), n_exec)
    m["compaction.bins"] = per(attr_sum("compaction.plan", "bins"), n_exec)
    m["compaction.bin_overlap"] = (
        attr_sum("compaction.execute", "bin_ms") / 1000.0 / exec_wall if exec_wall else 0.0
    )
    m["compaction.write_s"] = per(ctr["compaction.write_s"], n_exec)
    m["compaction.stats_s"] = per(ctr["compaction.stats_s"], n_exec)
    m["compaction.output_files"] = per(attr_sum("compaction.execute", "output_files"), n_exec)
    m["compaction.removed_delete_files"] = per(
        attr_sum("compaction.execute", "removed_delete_files"), n_exec
    )

    m["manifest.footer_calls"] = per(count("manifest.collect_file_infos"), n_ops)
    m["manifest.footer_files"] = per(attr_sum("manifest.collect_file_infos", "files"), n_ops)
    m["manifest.footer_ms"] = per(dur_ms("manifest.collect_file_infos"), n_ops)
    reads = count("manifest.read_manifest") + count("manifest.read_delta_manifest")
    m["manifest.read_calls"] = per(reads, n_ops)
    m["manifest.read_ms"] = per(
        dur_ms("manifest.read_manifest") + dur_ms("manifest.read_delta_manifest"), n_ops
    )

    m["table.commit_ms"] = per(dur_ms("table.commit"), n_ops)
    m["table.commit_attempts"] = per(ctr["commit.attempts"], n_ops)
    m["table.commit_conflicts"] = per(ctr["commit.conflicts"], n_ops)
    man_calls = count("table.manifest")
    m["table.manifest_calls"] = per(man_calls, n_ops)
    m["table.manifest_reads_per_call"] = per(reads, man_calls)
    m["table.write_data_ms"] = per(dur_ms("table.write_data_files"), n_ops)
    m["table.write_delete_ms"] = per(dur_ms("table.write_delete_files"), n_ops)
    m["table.attach_blooms_ms"] = per(dur_ms("table.attach_blooms"), n_ops)
    m["table.scan_plan_ms"] = per(dur_ms("table.scan"), n_ops)
    m["table.delta_chain_len"] = max((o.get("delta_depth", 0) for o in ops), default=0)

    scanned, pruned = ctr["scan.files_scanned"], ctr["scan.files_pruned"]
    m["scan.files_scanned"] = per(scanned, n_ops)
    m["scan.files_pruned"] = per(pruned, n_ops)
    m["scan.prune_ratio"] = per(pruned, scanned + pruned)
    m["bloom.sidecar_loads"] = per(ctr["bloom.sidecar_loads"], n_ops)
    m["pruning.prune_ms"] = per(
        dur_ms("pruning.prune_files") + dur_ms("pruning.prune_files_df")
        + dur_ms("pruning.classify_data_rows"),
        n_ops,
    )

    m["mor.delete_files_attached"] = per(ctr["scan.delete_files_attached"], n_ops)
    m["mor.eq_delete_files_opened"] = per(attr_sum("table.scan", "eq_opened"), n_ops)
    m["mor.pos_delete_files_opened"] = per(attr_sum("table.scan", "pos_opened"), n_ops)

    merges = [o for o in ops if o["kind"] == "merge"]
    n_merge = len(merges)
    src_rows = sum(o.get("source_rows", 0) for o in merges)
    merge_ids = {o["id"] for o in merges}
    eq_rows = sum(
        sp["attrs"].get("rows", 0)
        for sp in by_name.get("table.write_delete_files", ())
        if sp["op"] in merge_ids and sp["attrs"].get("content") == manifest.CONTENT_EQ_DEL
    )
    m["merge.source_rows"] = per(src_rows, n_merge)
    m["merge.eq_delete_rows"] = per(eq_rows, n_merge)
    m["merge.scope_ratio"] = per(eq_rows, src_rows)
    n_del = count("delete.delete_where")
    m["delete.dropped_files"] = per(attr_sum("delete.delete_where", "dropped_files"), n_del)
    m["delete.deleted_rows"] = per(attr_sum("delete.delete_where", "deleted_rows"), n_del)

    n_maint = sum(1 for o in ops if o["kind"] == "maintain")
    m["maintenance.expire_ms"] = per(dur_ms("maintenance.expire_snapshots"), n_maint)
    m["maintenance.orphan_ms"] = per(dur_ms("maintenance.clean_orphan_files"), n_maint)
    m["maintenance.rewrite_manifests_ms"] = per(
        dur_ms("maintenance.rewrite_manifests"), n_maint
    )
    m["maintenance.files_deleted"] = per(
        attr_sum("maintenance.expire_snapshots", "files_deleted")
        + attr_sum("maintenance.clean_orphan_files", "files_deleted"),
        n_maint,
    )

    # Spark execution, from the event log
    by_span = attribute_jobs(spans, jobs)
    op_of = {sp["id"]: sp["op"] for sp in spans}
    op_jobs: dict[int, list[dict]] = {}
    for sid, js in by_span.items():
        op_jobs.setdefault(op_of[sid], []).extend(js)
    all_jobs = [j for js in op_jobs.values() for j in js]
    wall = sum(o["wall"] for o in ops)
    m["spark.jobs"] = per(len(all_jobs), n_ops)
    m["spark.tasks"] = per(sum(j["tasks"] for j in all_jobs), n_ops)
    run_s = sum(j["run_s"] for j in all_jobs)
    m["spark.executor_run_s"] = per(run_s, n_ops)
    m["spark.gc_s"] = per(sum(j["gc_s"] for j in all_jobs), n_ops)
    m["spark.shuffle_write_bytes"] = per(sum(j["shuffle_write_bytes"] for j in all_jobs), n_ops)
    m["spark.spill_bytes"] = per(sum(j["spill_bytes"] for j in all_jobs), n_ops)
    m["spark.output_bytes"] = per(sum(j["output_bytes"] for j in all_jobs), n_ops)
    m["spark.slot_util"] = per(run_s, wall * cores)

    # driver: Python CPU, and wall time no Spark job covers
    only = 0.0
    span_by_id = {sp["id"]: sp for sp in spans}
    for o in ops:
        root = span_by_id[o["span"]]
        lo, hi = root["start"], root["end"]
        covered = _union_s(
            (max(lo, j["submit"]), min(hi, j["end"]))
            for j in op_jobs.get(o["id"], ())
            if j["end"] > lo and j["submit"] < hi
        )
        only += (hi - lo) - covered
    m["driver.py_cpu_s"] = per(sum(o["cpu"] for o in ops), n_ops)
    m["driver.only_ms"] = per(only * 1000.0, n_ops)

    # self time per layer: span duration minus what its children cover
    self_s = dict.fromkeys(LAYERS, 0.0)
    for sp in spans:
        lo, hi = sp["start"], sp["end"]
        covered = _union_s(
            (max(lo, c["start"]), min(hi, c["end"]))
            for c in children.get(sp["id"], ())
            if c["end"] > lo and c["start"] < hi
        )
        layer = sp["name"].split(".", 1)[0]
        self_s[layer] = self_s.get(layer, 0.0) + (hi - lo) - covered
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = per(self_s[layer] * 1000.0, n_ops)
    m["trace.unattributed_share"] = per(self_s["op"], wall)
    m["trace.bookkeeping_ms"] = per(tracer.bookkeeping_s * 1000.0, n_ops)
    return m


#: unit of each per-layer metric, in the order they are reported
UNITS = {
    "compaction.plan_ms": "ms",
    "compaction.bins": "count",
    "compaction.bin_overlap": "ratio",
    "compaction.write_s": "s",
    "compaction.stats_s": "s",
    "compaction.output_files": "count",
    "compaction.removed_delete_files": "count",
    "manifest.footer_calls": "count",
    "manifest.footer_files": "count",
    "manifest.footer_ms": "ms",
    "manifest.read_calls": "count",
    "manifest.read_ms": "ms",
    "table.commit_ms": "ms",
    "table.commit_attempts": "count",
    "table.commit_conflicts": "count",
    "table.manifest_calls": "count",
    "table.manifest_reads_per_call": "ratio",
    "table.write_data_ms": "ms",
    "table.write_delete_ms": "ms",
    "table.attach_blooms_ms": "ms",
    "table.scan_plan_ms": "ms",
    "table.delta_chain_len": "count",
    "scan.files_scanned": "count",
    "scan.files_pruned": "count",
    "scan.prune_ratio": "ratio",
    "bloom.sidecar_loads": "count",
    "pruning.prune_ms": "ms",
    "mor.delete_files_attached": "count",
    "mor.eq_delete_files_opened": "count",
    "mor.pos_delete_files_opened": "count",
    "merge.source_rows": "count",
    "merge.eq_delete_rows": "count",
    "merge.scope_ratio": "ratio",
    "delete.dropped_files": "count",
    "delete.deleted_rows": "count",
    "maintenance.expire_ms": "ms",
    "maintenance.orphan_ms": "ms",
    "maintenance.rewrite_manifests_ms": "ms",
    "maintenance.files_deleted": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.output_bytes": "B",
    "spark.slot_util": "ratio",
    "driver.py_cpu_s": "s",
    "driver.only_ms": "ms",
    **{f"self_ms.{layer}": "ms" for layer in LAYERS},
    "trace.unattributed_share": "ratio",
    "trace.bookkeeping_ms": "ms",
}
