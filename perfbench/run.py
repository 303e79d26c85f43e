#!/usr/bin/env python3
"""Workload benchmark for the streaming warehouse engine.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload warehouse_stream --seed 1 --seconds 10 --trace 0

One run is one fresh ``local[nproc]`` Spark process:

1. generate a warm-up data set from ``--seed`` (perfbench/datagen.py);
2. set up: ``get_spark``, ``load_tables`` of the workload's tables, then
   one untimed warm-up pass over the workload's queries (JVM classes,
   codegen, the Python worker pool, the micro-batch engine).
   ``setup_s`` is process start to ready, minus input generation;
3. run passes over the workload's queries until ``--seconds`` of timed
   work are done, four at least. Each pass gets a fresh data set generated from the
   seed and the pass number, and its own query order drawn from the
   seed. Each query is built by its catalog callable and forced end to
   end through the ``noop`` sink;
4. outside the timed region, check every query's output against its
   DuckDB oracle (row count plus an order-insensitive value hash; rows>0
   for queries without one).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
discarded pass, then untraced passes, then wraps the engine's layer
entry points (perfbench/spans.py) for the remaining passes and reports
per-layer metrics, including the tracing overhead. Sums are per pass.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (run records and span dumps) in the
checkout. The second-to-last stdout line is the full run record; the
last line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "gmall_flink_0526_spark"
DEADLINE_S = 170  # hard stop for one run

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

# units of the record-only end-to-end figures; the gated metrics' names
# and units come from BENCHMARK.json
RECORD_UNITS = {
    "cpu_s": "s",
    "host_steal": "ratio",
    "peak_rss_mb": "MB",
    "epoch_p50_ms": "ms",
    "epoch_tail_ms": "ms",
    "input_rows_per_s": "1/s",
    "error_rate": "ratio",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every live descendant: the driver, its JVM and Python workers."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _host_steal() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark run inside an already-prepared work directory."""

    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.warm_data = os.path.join(work, "warm")
        self.rng = random.Random(args.seed)
        self.spark = None
        self.jvm_proc = None
        self.record: dict = {}
        self.execs: list[dict] = []
        self.setup_times: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        import datagen

        t0 = time.perf_counter()
        self.record["table_rows"] = datagen.generate(self.warm_data, (self.args.seed, 0))
        datagen_s = time.perf_counter() - t0

        t = time.perf_counter()
        from pyspark import SparkContext

        from gmall_flink_0526_spark.plans import catalog
        from gmall_flink_0526_spark.session import get_spark, load_tables

        tmp = os.path.join(self.work, "tmp")
        self.spark = spark = get_spark(
            "perfbench",
            cpus=_cpus(),
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file in /tmp: the run writes only in the checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        self.setup_times["session.get_spark_s"] = time.perf_counter() - t

        import sparkstats

        self.queries = catalog.queries()
        self.oracles = catalog.oracle_sql()
        self.listener = sparkstats.EpochListener()
        spark.streams.addListener(self.listener)
        self.stages = sparkstats.StageReader(spark.sparkContext)

        t = time.perf_counter()
        load_tables(spark, self.warm_data, *self.wl.tables)
        self.setup_times["session.load_tables_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self._warmup()
        self.setup_times["session.warmup_s"] = time.perf_counter() - t

        self.setup_s = _process_age_s() - datagen_s

    def _warmup(self) -> None:
        """Pay the one-time costs before the timed region: one untimed
        pass over the workload's queries on the warm-up data set compiles
        every plan's codegen and starts the micro-batch engine, keyed
        state and the Python worker pool the timed passes use."""
        errors = self.record["warmup_errors"] = {}
        for name in self.wl.queries:
            try:
                self.queries[name](self.spark, self.warm_data).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # the timed pass counts it as failed
                errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
        self.listener.close(0)

    # -- timed region --------------------------------------------------------
    def _one(self, name: str, data: str, traced: bool) -> dict:
        mark = self.listener.mark()
        s0 = self.stages.last_stage_id() if traced else None
        rec = {"query": name, "data": data, "traced": traced, "error": None, "df": None}
        tracer = self.tracer
        steal0 = _host_steal()
        t0 = time.perf_counter()
        t1 = t0
        with tracer.span("plans.query", query=name):
            try:
                with tracer.span("plans.build"):
                    df = self.queries[name](self.spark, data)
                t1 = time.perf_counter()
                with tracer.span("plans.execute"):
                    df.write.format("noop").mode("overwrite").save()
                rec["df"] = df
            except Exception as exc:  # a failed query counts, the run goes on
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        t2 = time.perf_counter()
        steal1 = _host_steal()
        rec.update(latency_s=t2 - t0, build_s=t1 - t0, execute_s=t2 - t1,
                   host_steal=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
        ids, all_done = self.listener.close(mark)
        rec["epochs"] = self.listener.epochs_of(ids)
        rec["unterminated"] = 0 if all_done else 1
        if traced:
            self.stages.settle()
            s1 = self.stages.last_stage_id()
            rec["stages"], rec["stages_missing"] = self.stages.stages(s0 + 1, s1)
            rec["pinned_rdds"] = self.stages.pinned_rdds()
        return rec

    def _passes(self, traced: bool, until: float, at_least: int = 1) -> None:
        """Run at least ``at_least`` passes, and more until ``until``
        seconds of timed work have been done in this run."""
        import datagen

        while True:
            order = list(self.wl.queries)
            self.rng.shuffle(order)
            # every pass reads a data set of its own, so each pays the
            # same first-touch and per-dataset cache misses (replay
            # channels, corpus memos) on a warm engine
            self.datasets += 1
            data = os.path.join(self.work, f"data{self.datasets}")
            datagen.generate(data, (self.args.seed, self.datasets))
            cpu0, steal0 = _tree_cpu_s(os.getpid()), _host_steal()
            recs = [self._one(name, data, traced) for name in order]
            wall = sum(r["latency_s"] for r in recs)
            cpu, steal = _tree_cpu_s(os.getpid()) - cpu0, _host_steal()
            self.passes.append({
                "traced": traced, "wall_s": wall, "cpu_s": cpu, "order": order,
                "host_steal": (steal[0] - steal0[0]) / max(1, steal[1] - steal0[1]),
            })
            self.execs.extend(recs)
            self.used += wall
            at_least -= 1
            if self.used >= until and at_least <= 0:
                return

    def measure(self) -> None:
        import spans

        self.tracer = spans.Tracer(f"{self.wl.name}-{self.args.seed}")
        self.passes: list[dict] = []
        self.datasets = 0
        self.used = 0.0
        if not self.args.trace:
            # four passes at least: the first timed passes still run up
            # to ~20% slow (JIT), and a median over four is then made of
            # steady passes whatever the pass count
            self._passes(False, self.args.seconds, at_least=4)
            return
        # traced runs: one discarded pass, so neither side of the
        # overhead comparison carries the engine's residual warm-up
        # (the first timed pass runs ~10% slow), then untraced passes
        # for the baseline, then traced passes
        self._passes(False, 0)
        self.passes.clear()
        self.execs.clear()
        self.used = 0.0
        self._passes(False, self.args.seconds / 2)
        self.tracer.instrument()
        try:
            self._passes(True, self.args.seconds)
        finally:
            self.tracer.uninstrument()

    # -- checks --------------------------------------------------------------
    def check(self) -> None:
        import oracle

        last_ok: dict[str, dict] = {}
        for r in self.execs:
            if r["error"] is None:
                last_ok[r["query"]] = r
        self.check_failures = {}
        for name in self.wl.queries:
            r = last_ok.get(name)
            if r is None:
                continue
            try:
                why = oracle.check(r["df"], oracle.connect(r["data"]), self.oracles.get(name))
            except Exception as exc:
                why = f"check raised {type(exc).__name__}: {str(exc)[:200]}"
            if why:
                self.check_failures[name] = why
        for r in self.execs:
            r.pop("df", None)

    # -- teardown ------------------------------------------------------------
    def stop(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                if gw is not None:
                    try:
                        gw.shutdown()
                    except Exception:
                        pass
                _end_jvm(self.jvm_proc)
            self.spark = None


def _end_jvm(proc, timeout: float = 20.0) -> None:
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on stdin EOF
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(run: Run) -> dict[str, float | None]:
    import metrics as M

    untraced = [p for p in run.passes if not p["traced"]]
    ex = [r for r in run.execs if not r["traced"]]
    epochs = [e for r in ex for e in r["epochs"]]
    out = {
        "setup_s": run.setup_s,
        "wall_s": _median([p["wall_s"] for p in untraced]),
        "query_p50_s": _median([
            _median([r["latency_s"] for r in ex if r["query"] == q]) for q in run.wl.queries
        ]),
        "cpu_s": _median([p["cpu_s"] for p in untraced]),
        "host_steal": statistics.mean(p["host_steal"] for p in untraced),
        "peak_rss_mb": run.peak_rss_mb,
    }
    es = M.epoch_summary(epochs)
    out.update({k: es[k] for k in ("epoch_p50_ms", "epoch_tail_ms", "input_rows_per_s")})
    out["error_rate"] = run.failed / run.attempted
    run.record["epoch_tail_pct"] = es["epoch_tail_pct"]
    run.record["data_epochs"] = es["data_epochs"]
    return out


def per_layer(run: Run) -> dict[str, float]:
    """Per-layer figures over the traced passes (sums are per pass)."""
    import metrics as M

    traced = [r for r in run.execs if r["traced"]]
    n_pass = max(1, sum(1 for p in run.passes if p["traced"]))
    spans = [s for s in run.tracer.spans if s["end"] is not None]
    selfs = M.self_times(spans)
    epochs = [e for r in traced for e in r["epochs"]]
    data_ep = [e for e in epochs if e["rows"] > 0]
    out: dict[str, float] = {}

    def per_pass(x):
        return x / n_pass

    for ph in ("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch",
               "addBatch"):
        out[f"streaming.phase.{ph}_ms"] = per_pass(sum(e["phases"][ph] for e in epochs))
    out["streaming.empty_epoch_ratio"] = M.empty_epoch_ratio(epochs)
    es = M.epoch_summary(epochs)
    out["streaming.epoch_p50_ms"] = es["epoch_p50_ms"] or 0.0
    out["streaming.input_rows_per_s"] = es["input_rows_per_s"] or 0.0
    out["streaming.data_epochs"] = per_pass(len(data_ep))
    # drain overshoot: last data epoch's commit to drain() returning
    last_commit: dict[str, float] = {}
    for e in data_ep:
        last_commit[e["query_id"]] = max(last_commit.get(e["query_id"], 0.0), e["end"])
    overs = [
        (s["end_wall"] - last_commit[s["query_id"]]) * 1000.0
        for s in spans
        if s["name"] == "streaming.drain" and s.get("query_id") in last_commit and "end_wall" in s
    ]
    out["streaming.drain_overshoot_ms"] = _median(overs) or 0.0
    n_dep = max(1, len(data_ep))
    out["streaming.state.rows_total"] = sum(e["state_rows_total"] for e in data_ep) / n_dep
    out["streaming.state.rows_updated"] = sum(e["state_rows_updated"] for e in data_ep) / n_dep
    out["streaming.state.commit_ms"] = per_pass(sum(e["state_commit_ms"] for e in epochs))
    out["streaming.state.memory_bytes"] = float(
        max((e["state_memory_bytes"] for e in epochs), default=0)
    )

    def calls(name):
        return [s for s in spans if s["name"] == name]

    def total_s(name):
        return sum(s["end"] - s["start"] for s in calls(name))

    out["streaming.local_checkpoints"] = per_pass(len(calls("streaming.local_checkpoint")))
    out["operators.cache.scoped_persist_calls"] = per_pass(len(calls("operators.scoped_persist")))
    out["operators.cache.pinned_rdds_max"] = float(
        max((r.get("pinned_rdds", 0) for r in traced), default=0)
    )
    st = {k: sum(r["stages"][k] for r in traced) for k in traced[0]["stages"]} if traced else {}
    mb = 1024.0 * 1024.0
    out["operators.stages"] = per_pass(st.get("stages", 0))
    out["operators.tasks"] = per_pass(st.get("numTasks", 0))
    out["operators.task_run_s"] = per_pass(st.get("executorRunTime", 0) / 1000.0)
    out["operators.task_cpu_s"] = per_pass(st.get("executorCpuTime", 0) / 1e9)
    out["operators.gc_s"] = per_pass(st.get("jvmGcTime", 0) / 1000.0)
    out["operators.shuffle_read_mb"] = per_pass(st.get("shuffleReadBytes", 0) / mb)
    out["operators.shuffle_write_mb"] = per_pass(st.get("shuffleWriteBytes", 0) / mb)
    out["operators.spill_mb"] = per_pass(
        (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / mb
    )
    wall = sum(r["latency_s"] for r in traced)
    out["operators.cpu_util"] = (
        (st.get("executorCpuTime", 0) / 1e9) / (wall * _cpus()) if wall else 0.0
    )
    out["sources.write_replay_s"] = per_pass(total_s("sources.write_replay"))
    out["sources.write_replay_calls"] = per_pass(len(calls("sources.write_replay")))
    replays = calls("streaming.replay_stateful")
    writers = {s["parent"] for s in calls("sources.write_replay")}
    out["sources.replay_channel_reuse_ratio"] = (
        sum(1 for s in replays if s["id"] not in writers) / len(replays) if replays else 0.0
    )
    out["sources.dimstore_merge_s"] = per_pass(total_s("sources.dimstore_merge"))
    out["sources.dimstore_merge_calls"] = per_pass(len(calls("sources.dimstore_merge")))
    out["sources.write_batch_s"] = per_pass(total_s("sources.write_batch"))
    out["plans.build_s"] = per_pass(sum(r["build_s"] for r in traced))
    out["plans.execute_s"] = per_pass(sum(r["execute_s"] for r in traced))
    for layer in ("plans", "sources", "streaming", "operators"):
        out[f"self.{layer}_s"] = per_pass(
            sum(selfs[s["id"]] for s in spans if s["name"].startswith(layer + "."))
        )
    for k, v in run.setup_times.items():
        out[k] = v
    traced_walls = [p["wall_s"] for p in run.passes if p["traced"]]
    untraced_walls = [p["wall_s"] for p in run.passes if not p["traced"]]
    out["trace.wall_s"] = _median(traced_walls) or 0.0
    out["trace.untraced_wall_s"] = _median(untraced_walls) or 0.0
    out["trace.overhead_s"] = out["trace.wall_s"] - out["trace.untraced_wall_s"]
    out["process.cpu_s"] = _median([p["cpu_s"] for p in run.passes if p["traced"]]) or 0.0
    out["memory.peak_rss_mb"] = run.peak_rss_mb
    out["error_rate"] = run.failed / run.attempted
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # everything (replay channels, spill, Python workers' temp files)
    # stays in the checkout; Spark's Python workers import the package
    # from the checkout whatever the working directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    run = Run(args, work)

    def _deadline(signum, frame):
        print(f"perfbench: run exceeded {DEADLINE_S}s, aborting", file=sys.stderr)
        if run.jvm_proc is not None:
            run.jvm_proc.kill()
            run.jvm_proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    run.record.update(
        workload=args.workload, seed=args.seed, trace=args.trace, seconds=args.seconds,
        nproc=_cpus(), loadavg_start=_loadavg(),
    )
    marks = run.record["process_age_s"] = {}
    try:
        run.setup()
        marks["ready"] = _process_age_s()
        run.measure()
        marks["measured"] = _process_age_s()
        run.record["leftover_replay_dirs"] = sum(
            1 for n in os.listdir(os.path.join(work, "tmp")) if n.startswith("gmall_replay_")
        )
        run.check()
        marks["checked"] = _process_age_s()
        run.peak_rss_mb = _vm_hwm_mb(os.getpid()) + (
            _vm_hwm_mb(run.jvm_proc.pid) if run.jvm_proc is not None else 0.0
        )
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    signal.alarm(0)
    marks["stopped"] = _process_age_s()

    raised = [r for r in run.execs if r["error"]]
    run.attempted = len(run.execs)
    run.failed = len(raised) + len(run.check_failures)
    e2e = end_to_end(run)
    run.record.update(
        loadavg_end=_loadavg(),
        setup_times=run.setup_times,
        passes=run.passes,
        query_latency_s={
            q: [(r["latency_s"], r["host_steal"]) for r in run.execs if r["query"] == q]
            for q in run.wl.queries
        },
        errors=[{"query": r["query"], "error": r["error"]} for r in raised],
        check_failures=run.check_failures,
        unterminated_streams=sum(r["unterminated"] for r in run.execs),
        stages_missing=sum(r.get("stages_missing", 0) for r in run.execs),
    )
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]} | RECORD_UNITS
    run.record["end_to_end"] = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    if args.trace:
        values, wanted = per_layer(run), spec["per_layer"]
        run.record["per_layer"] = values
        _dump_spans(run, out_dir)
    else:
        values, wanted = e2e, spec["end_to_end"]
    missing = {m["name"] for m in wanted} - values.keys()
    if missing:
        raise SystemExit(f"perfbench: no value for {sorted(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"record-{tag}.json"), "w") as f:
        json.dump(run.record, f, indent=1, sort_keys=True, default=str)
    print(json.dumps({"record": run.record}, sort_keys=True, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _dump_spans(run: Run, out_dir: str) -> None:
    import metrics as M

    spans = [s for s in run.tracer.spans if s["end"] is not None]
    selfs = M.self_times(spans)
    by_name: dict[str, dict] = {}
    for s in spans:
        agg = by_name.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += selfs[s["id"]]
    path = os.path.join(out_dir, f"spans-{run.wl.name}-seed{run.args.seed}.json")
    with open(path, "w") as f:
        json.dump({"layers": by_name, "spans": [{**s, "self": selfs[s["id"]]} for s in spans]},
                  f, default=str)


if __name__ == "__main__":
    sys.exit(main())
