#!/usr/bin/env python3
"""The repo benchmark: closed-loop workloads over the engine's public API.

    python3 perfbench/run.py --workload graph_sf0.1 --seed 1 --seconds 5 --trace 0

One client in one process on ``local[<cores>]`` runs rounds back to back
for ``--seconds`` (at least one round); each call starts only after the
previous one returned. Before the timed rounds a warm-up round runs the
same calls, collecting every registry result to the driver for the
output checks, which run after the warm-up has been timed. See
``perfbench/README.md`` for the workloads, the metrics and the layer map.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
plain and traced rounds, wraps a span around every call, attributes
Spark jobs to spans through the job group, reads the event log after the
session stops, prints the per-layer metrics and writes every span and the
module-level breakdown to ``perfbench/.work/trace/``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Any failed call or check makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import zipfile
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: perf_counter value at process start (the interpreter start, not this line)
T_PROCESS = time.perf_counter() - process_age_s()

END_TO_END_UNITS = {"docs_per_s": "1/s", "ready_s": "s", "serve_s": "s", "setup_s": "s"}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python create inside ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def start_session(work: str, trace: bool):
    import kg_covid_19_spark.session as session_mod

    # get_spark ships the package through package_zip(), which writes
    # under /tmp; the benchmark writes only inside its checkout, so it
    # builds the same archive in its work directory.
    def package_zip() -> str:
        pkg = os.path.dirname(os.path.abspath(session_mod.__file__))
        out = os.path.join(work, "kg_covid_19_spark.zip")
        with zipfile.ZipFile(out, "w") as zf:
            for dirpath, _dirs, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        zf.write(full, os.path.relpath(full, ROOT))
        return out

    session_mod.package_zip = package_zip
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return session_mod.get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, close the Py4J gateway and wait until the JVM it
    launched has exited (it exits when its stdin closes; its Python
    workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        from kg_covid_19_spark.sources.corpus import invalidate_session_caches

        import __spark_entry__ as entry
        from inputs import make_inputs, row_count
        from workloads import WORKLOADS, Ctx

        if args.workload not in WORKLOADS:
            raise SystemExit(
                f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}"
            )
        self.args, self.work = args, work
        self.workload = WORKLOADS[args.workload]
        self.invalidate = invalidate_session_caches
        t = time.perf_counter()
        self.sf_dir = make_inputs(self.workload.scale, os.path.join(work, "inputs"))
        self.inputs_s = time.perf_counter() - t
        self.n_docs = row_count(self.sf_dir)
        t = time.perf_counter()
        self.spark = start_session(work, bool(args.trace))
        self.get_spark_s = time.perf_counter() - t
        self.ctx = Ctx(self.spark, self.sf_dir, work, entry.queries())
        self.oracles = entry.oracle_sql()
        self.attempted = 0
        self.failures: list[str] = []
        self.collected: dict[str, tuple] = {}
        self.digests: list[tuple[str, str]] = []
        self.tracer = None

    # -- one round -----------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    def span(self, name: str, round_id: str):
        return self.tracer.span(name, round_id) if self.tracer else nullcontext()

    def round(self, round_no: int, round_id: str, collect: dict | None = None) -> dict:
        """Invalidate, then every call of the round in order. Returns the
        round wall and the ready/serve split. With ``collect``, registry
        results are collected into it, as (columns, rows), instead of
        going to the noop sink."""
        calls = self.workload.calls(self.args.seed, round_no)
        walls = {}
        t0 = time.perf_counter()
        ready_end = t0
        with self.span("round", round_id):
            with self.span("cache.invalidate", round_id):
                self.invalidate(self.spark)
            for call in calls:
                self.attempted += 1
                t = time.perf_counter()
                with self.span(call.name, round_id):
                    try:
                        if collect is not None and call.registry:
                            df = self.ctx.registry[call.registry](self.spark, self.sf_dir)
                            collect[call.registry] = (df.columns, df.collect())
                        else:
                            call.run(self.ctx)
                    except Exception:
                        traceback.print_exc()
                        self.fail(f"{round_id}/{call.name} raised")
                walls[call.name] = time.perf_counter() - t
                if call.phase == "ready":
                    ready_end = time.perf_counter()
        end = time.perf_counter()
        print(f"{round_id}: " + " ".join(f"{n}={w:.2f}" for n, w in walls.items()),
              file=sys.stderr)
        return {"round_s": end - t0, "ready_s": ready_end - t0,
                "serve_s": end - ready_end}

    # -- output checks, outside the timed rounds ---------------------------
    def check_pass(self) -> None:
        """Hash the warm-up's collected results and check what it built,
        over the artifacts it left cached."""
        from checks import result_hash
        from kg_covid_19_spark.plans.pipeline import get_kg
        from workloads import kgx_rows

        t = time.perf_counter()
        self.hashes = {name: result_hash(*res) for name, res in self.collected.items()}
        self.collected.clear()
        if self.workload.builds_graph:
            nodes, edges = get_kg(self.spark, self.sf_dir)
            if kgx_rows(self.ctx) != (nodes.count(), edges.count()):
                self.fail("sources.write_kgx: rows read back != graph rows")
            self.digests.append(self.graph_digests())
        self.check_flow("check")
        print(f"check pass: {time.perf_counter() - t:.2f}", file=sys.stderr)

    def check_flow(self, where: str) -> dict:
        """The row flow after a round; fails on a broken identity or a
        count other than the pinned one."""
        from checks import check_flow, curate_row_flow, kg_row_flow

        flow, broken = (kg_row_flow(self.spark, self.sf_dir)
                        if self.workload.builds_graph else curate_row_flow(self.ctx))
        for why in broken + check_flow(self.workload.name, flow):
            self.fail(f"{where} row flow: {why}")
        return flow

    def graph_digests(self) -> tuple[str, str]:
        from checks import graph_digest
        from kg_covid_19_spark.plans.pipeline import get_kg

        nodes, edges = get_kg(self.spark, self.sf_dir)
        return graph_digest(nodes), graph_digest(edges)

    def check_outputs(self) -> None:
        """Oracle hashes for every registry result of the warm-up, and graph
        digests identical across rounds and equal to the pinned ones."""
        from checks import Oracle, compare
        from inputs import DATA_DIR
        from workloads import PINNED_DIGESTS

        oracle = Oracle(os.path.join(DATA_DIR, self.workload.scale),
                        os.path.join(WORK_ROOT, "oracle"))
        try:
            for name, got in sorted(self.hashes.items()):
                if name not in self.oracles:
                    self.fail(f"{name}: no oracle_sql() entry")
                    continue
                why = compare(name, got, oracle.result(self.oracles[name]))
                if why:
                    self.fail(why)
        finally:
            oracle.close()
        if self.workload.builds_graph:
            print(f"graph digests (nodes, edges): {self.digests}", file=sys.stderr)
            if len(set(self.digests)) != 1:
                self.fail(f"graph digests differ across rounds: {self.digests}")
            pinned = PINNED_DIGESTS.get(self.workload.scale)
            if pinned and self.digests and self.digests[0] != pinned:
                self.fail(f"graph digest {self.digests[0]} != pinned {pinned}")

    # -- timed rounds ----------------------------------------------------
    def timed_rounds(self) -> list[dict]:
        rounds = []
        t0 = time.perf_counter()
        while not rounds or time.perf_counter() - t0 < self.args.seconds:
            rounds.append(self.round(len(rounds) + 1, f"r{len(rounds) + 1}"))
        return rounds

    def end_to_end(self, rounds: list[dict], setup_s: float) -> dict:
        med = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
        values = {
            "docs_per_s": self.n_docs / med["round_s"],
            "ready_s": med["ready_s"],
            "serve_s": med["serve_s"],
            "setup_s": setup_s,
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    prepare_environment(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, work: str) -> int:
    bench = Bench(args, work)
    traced = None
    try:
        if args.trace:
            from traced import TracedRun

            traced = TracedRun(bench)
            bench.tracer = traced.tracer
        bench.warmup = bench.round(0, "warmup", collect=bench.collected)
        bench.tracer = None
        setup_s = time.perf_counter() - T_PROCESS - bench.inputs_s
        bench.check_pass()
        if traced is not None:
            traced.run()
        else:
            metrics = bench.end_to_end(bench.timed_rounds(), setup_s)
            if bench.workload.builds_graph:
                bench.digests.append(bench.graph_digests())
    finally:
        app_id = bench.spark.sparkContext.applicationId
        stop_session(bench.spark)
    bench.check_outputs()
    if traced is not None:
        metrics = traced.finish(
            os.path.join(work, "events", app_id),
            os.path.join(WORK_ROOT, "trace", f"{args.workload}-seed{args.seed}.json"),
        )
    failed = len(bench.failures)
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
