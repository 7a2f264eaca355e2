"""Market-ELT benchmark: one workload, one seed, one timed closed loop.

    python3 perfbench/run.py --workload intraday_stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the engine. Starts a local Spark session
on every core (``local[N]``), builds the workload's inputs from ``--seed``,
warms up, runs operations back to back for ``--seconds``, then checks the
outputs against independent oracles outside the timed interval. Prints a
report line with every metric (including the ungated ones), then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics from a traced run
(``--trace 1``). Scratch data lives in ``perfbench/out/`` and each run's
warehouse is deleted at exit; the traced run's spans stay there as JSON
lines.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
sys.path.insert(0, ROOT)

import schwab_elt_etl_pipeline_spark  # noqa: E402,F401  (fails fast outside a checkout)

from perfbench import oracle, tracing, workloads  # noqa: E402

#: the gated end-to-end metrics (BENCHMARK.json); the report line adds the
#: wall-clock ones, whose run-to-run spread on a shared VM exceeds any bound
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "stored_bytes_per_tick": "B/tick",
}
QUERY_KINDS = workloads.KINDS


class Context:
    """What a workload needs from the run: Spark, DuckDB, the seed, a
    private scratch directory, and the tracer."""

    def __init__(self, seed: int, trace: bool, scratch: str):
        from schwab_elt_etl_pipeline_spark.session import get_spark

        self.seed, self.trace, self.scratch = seed, trace, scratch
        self.tracer = tracing.Tracer()
        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores
        )
        self.sc = self.spark.sparkContext
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            # epoch_ms_to_tz_naive renders through the session zone: any other
            # zone shifts every T and empties Gold
            raise RuntimeError(f"session timezone is {tz}, the medallion needs UTC")
        self.duck = oracle.connect()
        self.duck.execute(f"SET temp_directory = '{scratch}/duckdb'")
        self.group = "perfbench-setup"

    @staticmethod
    def log(msg: str) -> None:
        log(f"{msg} at {time.perf_counter() - T_START:.2f}s")

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def cpu_snapshot(self) -> tuple[float, float, dict[str, float]]:
        """CPU seconds (user + system) of this process, of the JVM as a
        whole (threads that have ended included), and of each live JIT
        compiler thread. Compiler threads are left out of an op's CPU: on
        runs this short they are still compiling, and their share of an op
        (about half of a query's) varies from run to run with how far
        warm-up got."""
        py = time.process_time()
        pid = self.sc._gateway.proc.pid
        tick = os.sysconf("SC_CLK_TCK")

        def cpu(stat: str) -> float:
            fields = stat.rsplit(")", 1)[1].split()
            return (int(fields[11]) + int(fields[12])) / tick

        with open(f"/proc/{pid}/stat") as fh:
            jvm = cpu(fh.read())
        compilers = {}
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue  # the thread ended
            if "CompilerThre" in raw[raw.index("(") : raw.rindex(")")]:
                compilers[tid] = cpu(raw)
        return py, jvm, compilers

    @staticmethod
    def cpu_since(snapshot, now) -> float:
        """CPU of an op between two snapshots (the JVM keeps its compiler
        threads for its whole life, see ``main``)."""
        (py0, jvm0, comp0), (py1, jvm1, comp1) = snapshot, now
        compiling = sum(v - comp0.get(t, 0.0) for t, v in comp1.items())
        return (py1 - py0) + (jvm1 - jvm0) - compiling

    def set_group(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def setup_spans(self):
        """Trace the enclosed setup work as operation ``setup``."""
        self.tracer.enabled, self.tracer.op = self.trace, "setup"
        try:
            yield
        finally:
            self.tracer.enabled, self.tracer.op = False, None

    def count_rows(self, df) -> int:
        """Row count in its own job group, so per-op Spark counts skip it."""
        group = self.group
        self.sc.setJobGroup("perfbench-probe", "probe")
        try:
            return df.count()
        finally:
            self.set_group(group)

    def spark_counts(self, group: str, seen_stages: set) -> dict[str, int]:
        """Jobs, executed stages, tasks and failed tasks of one job group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0}
        for job in jobs:
            info = st.getJobInfo(job)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if sid in seen_stages or stage is None:
                    continue
                if stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
        return out

    def close(self) -> int:
        """Stop Spark and its JVM, wait for it; returns the JVM's peak RSS (MB)."""
        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.duck.close()
        return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss // 1024


def timed_loop(ctx: Context, wl, seconds: float) -> tuple[list[dict], float]:
    """Ops back to back until ``seconds`` have passed (at least one op)."""
    ops: list[dict] = []
    seen_stages: set = set()
    tracer = ctx.tracer
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        nxt = wl.next_op()
        if nxt is None:
            break
        kind, fn = nxt
        i = len(ops)
        op = {"i": i, "kind": kind, "items": 0, "error": None}
        if ctx.trace:
            ctx.set_group(f"perfbench-op-{i}")
            tracer.enabled, tracer.op = True, i
        c0, t0 = ctx.cpu_snapshot(), time.perf_counter()
        with tracer.span("op", kind=kind) as span:
            try:
                op["items"] = fn()
            except Exception as exc:  # a failed op is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                op["error"] = repr(exc)
        op["latency"] = time.perf_counter() - t0
        op["cpu"] = ctx.cpu_since(c0, ctx.cpu_snapshot())
        if span is not None:
            op["latency"] -= sum(
                s.duration for s in tracer.spans if s.op == i and s.name == "probe"
            )
        tracer.enabled, tracer.op = False, None
        if ctx.trace:
            op.update(ctx.spark_counts(ctx.group, seen_stages))
        ops.append(op)
    wall = time.perf_counter() - start
    ctx.set_group("perfbench-check")
    return ops, wall


def per_layer(spans: list, wl, ops: list[dict], peak_rss_mb: int, footprint) -> dict:
    net = tracing.net_duration(spans)
    self_t = tracing.self_times(spans)
    ok = [o for o in ops if o["error"] is None]
    timed_ids = {o["i"] for o in ok}
    write_op = (lambda s: s.op in timed_ids) if wl.write_spans == "timed" else (lambda s: s.op == "setup")
    ws = [s for s in spans if write_op(s)]
    applies = [s for s in ws if s.name == "pipeline.apply_medallion_batch"]
    n_w = len(ok) if wl.write_spans == "timed" else max(len(applies), 1)
    n_r = max(len(ok), 1)

    def total(name, t=net):
        return sum(t[s.id] for s in ws if s.name == name)

    def attr_sum(name, key, pred=lambda s: True):
        return sum(s.attrs.get(key, 0) for s in ws if s.name == name and pred(s))

    by_id = {s.id: s for s in spans}

    def nested(s):  # a warehouse call made by another warehouse call
        parent = by_id.get(s.parent)
        return parent is not None and parent.name.startswith("warehouse.")

    def top_write(tables):
        return sum(
            net[s.id] for s in ws
            if s.name in ("warehouse.insert_new", "warehouse.overwrite_versioned")
            and s.attrs["table"] in tables and not nested(s)
        )

    def inserted(table):
        # created tables report rows written, existing ones rows inserted
        ins = attr_sum("warehouse.insert_new", "rows_inserted", lambda s: s.attrs["table"] == table)
        made = attr_sum(
            "warehouse.overwrite_versioned", "rows_written",
            lambda s: s.attrs["table"] == table and not nested(s),
        )
        return ins + made

    ticks_in = (sum(o["items"] for o in ok) if wl.write_spans == "timed" else wl.ticks_in())
    recomputed = attr_sum("probe", "gold_rows_recomputed")
    vts_inserted = inserted("vert_ts")
    optm_inserted = inserted("optm")

    def med(key):
        vals = [o[key] for o in ok if key in o]
        return statistics.median(vals) if vals else 0

    m = {
        "spark.jobs_per_op": (med("jobs"), "count"),
        "spark.stages_per_op": (med("stages"), "count"),
        "spark.tasks_per_op": (med("tasks"), "count"),
        "spark.failed_tasks": (sum(o.get("failed_tasks", 0) for o in ops), "count"),
        "jvm.peak_rss_mb": (peak_rss_mb, "MB"),
        "pipeline.op_s": (total("pipeline.apply_medallion_batch") / n_w, "s"),
        "pipeline.self_s": (total("pipeline.apply_medallion_batch", t=self_t) / n_w, "s"),
        "pipeline.gold_days_rebuilt_per_op": (
            sum(1 for s in ws if s.name == "gold.scope" and s.attrs.get("phase") == "enter") / n_w,
            "count",
        ),
        "backfill.self_s": (total("backfill.backfill_medallion", t=self_t) / n_w, "s"),
        "silver.exec_s": (top_write({"opt", "optm", "und"}) / n_w, "s"),
        "silver.ticks_in": (ticks_in / n_w, "ticks"),
        "silver.optm_rows_inserted": (optm_inserted / n_w, "rows"),
        "silver.dedup_ratio": (optm_inserted / ticks_in if ticks_in else 0.0, "ratio"),
        "gold.strike_range_s": (total("gold.strike_range") / n_w, "s"),
        "gold.scope_s": (total("gold.scope") / n_w, "s"),
        "gold.exec_s": (top_write({"vert", "vert_ts"}) / n_w, "s"),
        "gold.vert_ts_rows_inserted": (vts_inserted / n_w, "rows"),
        "gold.rebuild_yield": (vts_inserted / recomputed if recomputed else 0.0, "ratio"),
        "warehouse.insert_new_s": (total("warehouse.insert_new") / n_w, "s"),
        "warehouse.insert_new_calls": (
            sum(1 for s in ws if s.name == "warehouse.insert_new") / n_w, "count"),
        "warehouse.overwrite_s": (total("warehouse.overwrite_versioned") / n_w, "s"),
        "warehouse.anti_join_rows_scanned": (attr_sum("warehouse.insert_new", "target_rows") / n_w, "rows"),
        "warehouse.read_calls": (
            sum(1 for s in spans if s.op in timed_ids and s.name == "warehouse.read") / n_r, "count"),
    }
    for table, fp in footprint.items():
        m[f"warehouse.files.{table}"] = (fp["files"], "count")
        m[f"warehouse.bytes.{table}"] = (fp["bytes"], "B")
        m[f"warehouse.versions.{table}"] = (fp["versions"], "count")
    for kind in QUERY_KINDS:
        lat = [o["latency"] for o in ok if o["kind"] == kind]
        m[f"reads.{kind}_s"] = (statistics.median(lat) if lat else 0.0, "s")
    reads = [o["items"] for o in ok if o["kind"] in QUERY_KINDS]
    m["reads.rows_returned"] = (statistics.mean(reads) if reads else 0.0, "rows")
    p50 = statistics.median([o["latency"] for o in ok]) if ok else 0.0
    m["trace.op_p50_s"] = (p50, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def mix_median(ops: list[dict], key: str) -> float:
    """The mean of the per-kind medians of ``key``: the cost of an average op
    of a mix that cycles through its kinds evenly, insensitive to where in
    the cycle a short run stopped."""
    kinds = {o["kind"] for o in ops}
    return statistics.mean(
        statistics.median(o[key] for o in ops if o["kind"] == k) for k in kinds
    )


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _last_path(workload: str) -> str:
    return os.path.join(OUT, f"last-{workload}.json")


def _load_last(workload: str, seed: int) -> float | None:
    """``op_p50_s`` of the last untraced run of ``workload``, if it had ``seed``."""
    try:
        with open(_last_path(workload)) as fh:
            last = json.load(fh)
    except (FileNotFoundError, ValueError):
        return None
    return last.get("op_p50_s") if last.get("seed") == seed else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.makedirs(OUT, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=OUT)
    tempfile.tempdir = scratch
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # a fixed set of JIT compiler threads: HotSpot otherwise retires idle ones,
    # and the compile time of one that ends mid-op would stay in op_cpu_s
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf 'spark.driver.extraJavaOptions="
        f"-Djava.io.tmpdir={scratch} -XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
    )
    ctx = None
    try:
        ctx = Context(args.seed, bool(args.trace), scratch)
        ctx.log("spark up")
        tracer = ctx.tracer
        restore = tracing.instrument(tracer, ctx.count_rows) if args.trace else None
        wl = workloads.WORKLOADS[args.workload](ctx)
        setup_s = time.perf_counter() - T_START
        log(f"setup {setup_s:.2f}s")
        ops, wall = timed_loop(ctx, wl, args.seconds)
        log("ops " + " ".join(f"{o['latency']:.2f}" for o in ops) + f" wall {wall:.2f}s")
        if restore:
            restore()
        ctx.log("timed loop done")
        run_errors, op_errors, extras = wl.gates()
        footprint = wl.wh.footprint()
        ticks_in = wl.ticks_in()
        ctx.log("gates done")
        peak_rss_mb = ctx.close()
        ctx = None
    finally:
        if ctx is not None:
            ctx.close()
        shutil.rmtree(scratch, ignore_errors=True)

    for i, errs in op_errors.items():
        ops[i]["error"] = ops[i]["error"] or "; ".join(errs)
    if run_errors:  # a run-level gate cannot say which op broke it
        for op in ops:
            op["error"] = op["error"] or "run gate failed"
    for err in run_errors + [e for errs in op_errors.values() for e in errs]:
        print(f"GATE FAILED: {err}", file=sys.stderr)
    ok = [o for o in ops if o["error"] is None]
    if not ok:
        print(f"no operation succeeded out of {len(ops)}", file=sys.stderr)
        return 1
    failed = len(ops) - len(ok)
    correct = not run_errors and not op_errors
    lat = [o["latency"] for o in ok]
    tail, pct, beyond = tracing.tail(lat)
    e2e = {
        "setup_s": setup_s,
        "op_cpu_s": mix_median(ok, "cpu"),
        "stored_bytes_per_tick": sum(fp["bytes"] for fp in footprint.values()) / ticks_in,
    }
    writes = wl.write_spans == "timed"
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(ops), "timed_wall_s": wall,
        **{k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {"value": tail, "unit": "s", "percentile": pct, "samples": len(lat),
                      "samples_beyond": beyond},
        # completed work per second of timed wall time
        **({"ticks_per_s": {"value": sum(o["items"] for o in ok) / wall, "unit": "ticks/s"}}
           if writes else {"queries_per_s": {"value": len(ok) / wall, "unit": "queries/s"}}),
        "ops_failed_frac": {"value": failed / len(ops), "unit": "ratio"},
        **{k: {"value": v, "unit": "rows"} for k, v in extras.items()},
    }
    if args.trace:
        metrics = per_layer(tracer.spans, wl, ops, peak_rss_mb, footprint)
        untraced = _load_last(args.workload, args.seed)
        # traced minus untraced median op of the same seed; null without one
        report["trace.overhead_s"] = {
            "value": None if untraced is None else metrics["trace.op_p50_s"]["value"] - untraced,
            "unit": "s",
        }
        tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        with open(_last_path(args.workload), "w") as fh:
            json.dump({"op_p50_s": report["op_p50_s"]["value"], "seed": args.seed}, fh)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
