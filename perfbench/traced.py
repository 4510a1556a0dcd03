"""The traced run: spans, job-group attribution, row flow and cache state.

Rounds alternate plain and traced in ABBA order, so warming drift cancels
over every two pairs. The event log is on for both, so
``trace.overhead_s`` (median traced round minus median plain round) is the
cost of the spans and job groups alone.
Event-log cost shows as ``trace.round_s`` against an untraced run's
``docs_per_s``.

Outside the timed rounds the run also measures:

* row flow, after every traced round, from the cached artifacts, checked
  against the pinned counts and the conservation identities
  ``mention_edges = sum |curies|`` and ``cooc_pairs_raw = sum k(k-1)/2``;
* single-layer probes (KG workloads): ``web_pages``, ``pages_with_mentions``
  and ``build_kg`` each through a noop sink, ``build_kg`` over the cached
  mention arrays so it isolates pair expansion and fusion;
* the cached storage at round end, and what is still cached after a final
  ``invalidate_session_caches``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import eventlog
from tracing import Tracer, self_times, split_group_id, summary

#: engine metrics printed per round phase; the trace file has them all
#: per module (spill reads 0 at these scales)
ROLE_ENGINE = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes")
PY_ENGINE = ("python_run_s", "python_sent_bytes", "python_returned_bytes")

#: every per-layer metric the traced run prints, with its unit
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_round_s": "s",
    "session.python_start_s": "s",
    "session.peak_rss_mb": "MB",
    "cache.invalidate_s": "s",
    "cache.storage_bytes": "B",
    "cache.residual_bytes": "B",
    "cache.residual_rdds": "count",
    **{f"{role}.{m}": ("s" if m.endswith("_s") else "B" if m.endswith("bytes") else "count")
       for role in ("ready", "serve") for m in ("self_s",) + ROLE_ENGINE},
    **{f"udf.{m}": "s" if m.endswith("_s") else "B" for m in PY_ENGINE},
    "trace.round_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
    "rows.candidates": "count",
    "rows.yield": "ratio",
}

#: workload-neutral row flow: the candidate pairs a workload generates
#: (co-occurrence pairs before dedup, MinHash candidates) and the share
#: that survives as output (edges, verified near-duplicate pairs)
NEUTRAL_ROWS = {
    "rows.candidates": ("cooc_pairs_raw", "minhash_candidates"),
    "rows.yield": ("pair_dedup_yield", "candidate_yield"),
}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class TracedRun:
    def __init__(self, bench):
        self.bench = bench
        sc = bench.spark.sparkContext

        def switch(group: str | None) -> None:
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, group)

        self.tracer = Tracer(on_switch=switch)
        self.plain: list[dict] = []
        self.traced: list[tuple[str, dict]] = []
        self.flows: list[dict] = []
        self.storage_end: list[int] = []
        self.kgx_bytes: int | None = None

    def run(self) -> None:
        b = self.bench
        t0 = time.perf_counter()
        k = 0
        while not (self.plain and self.traced) or time.perf_counter() - t0 < b.args.seconds:
            pair, pos = divmod(k, 2)
            traced = bool(pos ^ (pair % 2))
            k += 1
            rid = f"r{k}"
            b.tracer = self.tracer if traced else None
            res = b.round(k, rid)
            b.tracer = None
            if not traced:
                self.plain.append(res)
                continue
            self.traced.append((rid, res))
            self.storage_end.append(storage(b.spark)[0])
            self.flows.append(b.check_flow(rid))
        if b.workload.builds_graph:
            b.digests.append(b.graph_digests())
            self.probes()
            self.kgx_bytes = dir_bytes(os.path.join(b.work, "kgx"))
        b.invalidate(b.spark)
        self.residual = settled_storage(b.spark)
        self.peak_rss_mb = peak_rss_mb()

    def probes(self) -> None:
        from kg_covid_19_spark.plans.pipeline import build_kg, pages_with_mentions
        from kg_covid_19_spark.sources.corpus import web_pages
        from workloads import noop

        b = self.bench
        steps = (
            ("sources.web_pages", lambda: noop(web_pages(b.spark, b.sf_dir))),
            ("mentions.pages_with_mentions",
             lambda: noop(pages_with_mentions(b.spark, b.sf_dir))),
            ("pipeline.build_kg",
             lambda: [noop(df) for df in build_kg(b.spark, b.sf_dir)]),
        )
        for name, fn in steps:
            with self.tracer.span(name, "probe"):
                fn()

    # -- after the session stopped: event log -> metrics ----------------
    def finish(self, event_log: str, trace_path: str) -> dict:
        b = self.bench
        groups = eventlog.group_metrics(eventlog.read_events(event_log))
        spans = self.tracer.spans
        selfs = self_times(spans)
        phase = {c.name: c.phase for c in b.workload.calls(b.args.seed, 1)}
        phase["cache.invalidate"] = "cache"

        per_round = []
        for rid, res in self.traced:
            root = next(s for s in spans if s["round"] == rid and s["name"] == "round")
            kids = [s for s in spans if s["parent"] == root["id"]]
            role_self = {"cache": 0.0, "ready": 0.0, "serve": 0.0}
            for s in kids:
                role_self[phase[s["name"]]] += selfs[s["id"]]
            mine = {n: m for g, m in groups.items() if g
                    for r, n in [split_group_id(g)] if r == rid}
            role_eng = {
                role: eventlog.merge(m for n, m in mine.items() if phase.get(n) == role)
                for role in ("ready", "serve")
            }
            udf = eventlog.merge(mine.values())
            row = {
                "cache.invalidate_s": role_self["cache"],
                "trace.round_s": res["round_s"],
                "trace.coverage": sum(selfs[s["id"]] for s in kids) / res["round_s"],
            }
            for role in ("ready", "serve"):
                row[f"{role}.self_s"] = role_self[role]
                for m in ROLE_ENGINE:
                    row[f"{role}.{m}"] = role_eng[role][m]
            for m in PY_ENGINE:
                row[f"udf.{m}"] = udf[m]
            per_round.append(row)

        values = {k: statistics.median(r[k] for r in per_round) for k in per_round[0]}
        values["trace.overhead_s"] = (
            values["trace.round_s"] - statistics.median(r["round_s"] for r in self.plain)
        )
        values["session.get_spark_s"] = b.get_spark_s
        values["session.warmup_round_s"] = b.warmup["round_s"]
        values["session.python_start_s"] = eventlog.merge(
            m for g, m in groups.items() if g and split_group_id(g)[0] == "warmup"
        )["python_start_s"]
        values["session.peak_rss_mb"] = self.peak_rss_mb
        values["cache.storage_bytes"] = statistics.median(self.storage_end)
        values["cache.residual_bytes"], values["cache.residual_rdds"] = self.residual
        for key, names in NEUTRAL_ROWS.items():
            values[key] = next(self.flows[-1][n] for n in names if n in self.flows[-1])

        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w", encoding="utf-8") as fh:
            json.dump({
                "workload": b.workload.name,
                "seed": b.args.seed,
                "docs": b.n_docs,
                "per_layer": values,
                "modules": module_metrics(spans, selfs, groups, self.traced,
                                          self.flows, self.kgx_bytes),
                "per_round": per_round,
                "plain_rounds": self.plain,
                "row_flow_per_round": self.flows,
                "spans": [dict(s, self_s=selfs[s["id"]]) for s in spans],
                "job_groups": {str(g): m for g, m in groups.items()},
            }, fh, indent=1, sort_keys=True)
        return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python driver plus its JVM, read
    from /proc."""
    me = os.getpid()
    pids = [me]
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            if ppid == me:
                with open(f"/proc/{d}/cmdline", "rb") as fh:
                    if b"java" in fh.read().split(b"\0")[0]:
                        pids.append(int(d))
        except (OSError, ValueError, IndexError):
            continue
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def storage(spark) -> tuple[int, int]:
    """(bytes, RDD count) of the session's cached storage blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos), len(infos)


def settled_storage(spark, timeout_s: float = 5.0) -> tuple[int, int]:
    """storage() once asynchronous unpersists have settled."""
    deadline = time.perf_counter() + timeout_s
    last = None
    while True:
        cur = storage(spark)
        if cur == last or time.perf_counter() > deadline:
            return cur
        last = cur
        time.sleep(0.2)


def module_metrics(spans, selfs, groups, traced_rounds, flows, kgx_bytes) -> dict:
    """The breakdown named after modules: ``<layer>.<function>_s`` (self
    time summary over traced rounds; probes run once) and per-layer engine
    metrics (median over traced rounds)."""
    rids = {rid for rid, _ in traced_rounds}
    by_name: dict[str, list[float]] = {}
    for s in spans:
        if s["name"] != "round" and (s["round"] in rids or s["round"] == "probe"):
            by_name.setdefault(s["name"], []).append(selfs[s["id"]])
    out = {f"{n}_s": summary(v) for n, v in sorted(by_name.items())}
    per_layer_round: dict[str, list[dict]] = {}
    for rid in sorted(rids):
        layers: dict[str, list[dict]] = {}
        for g, m in groups.items():
            if g is None:
                continue
            r, name = split_group_id(g)
            if r == rid:
                layers.setdefault(name.split(".")[0], []).append(m)
        for layer, ms in layers.items():
            per_layer_round.setdefault(layer, []).append(eventlog.merge(ms))
    for layer, rows in sorted(per_layer_round.items()):
        for m in eventlog.ENGINE_METRICS:
            out[f"{layer}.{m}"] = statistics.median(r[m] for r in rows)
    if kgx_bytes is not None:
        out["sources.kgx_bytes"] = kgx_bytes
    for key, val in (flows[-1] if flows else {}).items():
        out[f"rows.{key}"] = val
    return out
