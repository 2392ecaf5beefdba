"""Closed-loop (one client) benchmark of the etl_io_spark engine.

    python3 perfbench/run.py --workload iterative_loops --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. One process, ``local[<cores>]``:

1. set-up: start the session; generate the seeded input tables (three
   times, the median is reported); run two untimed warm-up passes over
   the op list, the first capturing every query op's output;
2. timed passes over the same seed-shuffled op list: whole passes until
   ``--seconds`` have elapsed, so the window ends at the first pass
   boundary after ``--seconds``;
3. untimed verification of every op against its DuckDB oracle (query
   ops: the captured output; writing ops: the files read back).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Lines before it list every
metric and diagnostic by name with its unit. All files are written under
``.bench_work/`` in the checkout; a traced run leaves its spans and
counter ledger in ``.bench_work/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import datetime as dt  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from tracing import StatusStore, Tracer, job_counters  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: scale factor of the generated tables (lineitem = 6M x SF rows)
SF = 0.01
#: how often the input set-up is repeated to report its median
INPUT_REPEATS = 3
#: untimed passes before the timed window (JIT warm-up; part of setup_s)
WARMUP_PASSES = 2
#: minimum timed passes of a traced run: traced, untraced, traced
TRACE_MIN_PASSES = 3
CALIB_LOOPS = 5_000_000
MB = 1024 * 1024


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed diagnostic,
    never used to normalize a metric."""
    t = time.perf_counter()
    x = 0
    for i in range(CALIB_LOOPS):
        x += i & 7
    return time.perf_counter() - t


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; every file counts toward bytes
    (commit logs, checksums, offsets), only part files toward files."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet") and not n.startswith((".", "_"))
    return total, files


def pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def epoch_ms(iso: str) -> float:
    t = dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


class Runner:
    """Runs ops and passes, and records spans and counters when traced."""

    def __init__(self, spark, ctx, ops, tracer, store) -> None:
        from etl_io_spark import caching

        self.spark, self.ctx, self.ops = spark, ctx, ops
        self.tr, self.store, self.caching = tracer, store, caching
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def _phase(self, name: str, uid: str, op_sid, sids: dict):
        if op_sid is None:
            yield
            return
        self.sc.setJobGroup(f"{uid}:{name}", uid)
        sid = self.tr.open(name, op_sid, uid)
        sids[name] = sid
        try:
            yield
        finally:
            self.tr.close(sid)

    def run_op(self, op, uid: str, capture: bool, pass_sid) -> dict:
        rec = {"key": op.name, "uid": uid, "error": None, "result": None}
        op_sid = None if pass_sid is None else self.tr.open("op", pass_sid, uid)
        sids: dict[str, int] = {}
        t0 = time.perf_counter()
        try:
            with self._phase("construct", uid, op_sid, sids):
                t0 = time.perf_counter()
                obj = op.build(self.ctx)
                t1 = time.perf_counter()
            with self._phase("action", uid, op_sid, sids):
                t1b = time.perf_counter()
                rec["result"] = op.act(self.ctx, obj, capture)
                t2 = time.perf_counter()
            rec["construct_s"] = t1 - t0
            rec["latency_s"] = (t1 - t0) + (t2 - t1b)
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
            rec["latency_s"] = time.perf_counter() - t0
        with self._phase("drain", uid, op_sid, sids):
            t3 = time.perf_counter()
            rec["drained"] = self.caching.drain_persisted()
            self.spark.catalog.clearCache()
            rec["drain_s"] = time.perf_counter() - t3
        if op_sid is not None:
            self.tr.close(op_sid)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        res = rec["result"]
        rec["write_bytes"] = rec["write_files"] = 0
        if res is not None:
            for p in res.paths:
                b, f = tree_size(p)
                rec["write_bytes"] += b
                rec["write_files"] += f
        if pass_sid is not None:
            rec["counters"] = self._read_status(uid, sids, res, pass_sid)
        return rec

    def _read_status(self, uid, sids, res, pass_sid) -> dict:
        """Job and micro-batch spans for one op, plus its counters, read
        from the status store right after the op."""
        read_sid = self.tr.open("trace.read", pass_sid, uid)
        self.store.settle()
        jobs = []
        groups = [(f"{uid}:{ph}", sid) for ph, sid in sids.items()]
        if res is not None and res.run_id:
            groups.append((res.run_id, sids["action"]))
        tracker = self.sc.statusTracker()
        for group, parent in groups:
            for jid in tracker.getJobIdsForGroup(group):
                j = self.store.job(jid)
                jobs.append(j)
                start = self.tr.from_epoch_ms(j["submissionTime"])
                end = self.tr.from_epoch_ms(
                    j.get("completionTime") or j["submissionTime"])
                self.tr.add_clamped("job", parent, uid, start, end)
        counters = job_counters(self.store, jobs)
        counters["scan_bytes"] = self.store.scan_bytes()
        if res is not None:
            for p in res.progress:
                start = self.tr.from_epoch_ms(epoch_ms(p["timestamp"]))
                dur = p["duration_ms"].get("triggerExecution", 0) / 1000.0
                self.tr.add_clamped("batch", sids["action"], uid,
                                    start, start + dur)
        self.tr.close(read_sid)
        return counters

    def run_pass(self, pass_no: int | str, capture: bool, parent) -> dict:
        pass_sid = None if parent is None else self.tr.open("pass", parent)
        t = time.perf_counter()
        recs = [self.run_op(op, f"p{pass_no}.{i}.{op.name}", capture, pass_sid)
                for i, op in enumerate(self.ops)]
        wall = time.perf_counter() - t
        if pass_sid is not None:
            self.tr.close(pass_sid)
        elif self.tr is not None:
            # an untraced pass of a traced run: its SQL executions must not
            # count toward the next traced op's scan bytes
            self.store.settle()
            self.store.skip_executions()
        return {"no": pass_no, "wall": wall, "recs": recs, "sid": pass_sid}


def layer_metrics(tr, passes: list[dict], cores: int, untraced_walls) -> dict:
    """Per-layer metrics: per-pass sums (medians over traced passes)."""
    traced = [p for p in passes if p["sid"] is not None]
    kids = tr.children()
    per_pass: list[dict] = []
    for p in traced:
        recs = p["recs"]
        c = {k: sum(r["counters"][k] for r in recs) for k in recs[0]["counters"]}
        spans = [s for s in tr.spans if s.op and s.op.startswith(f"p{p['no']}.")]
        by = lambda name: [s for s in spans if s.name == name]  # noqa: E731
        action_s = sum(s.end - s.start for s in by("action"))
        ps = tr.spans[p["sid"]]
        batches = [r["result"].progress for r in recs
                   if r["result"] is not None and r["result"].progress]
        prog = [b for run in batches for b in run]

        def batch_med(key: str) -> float:
            vals = [b["duration_ms"].get(key, 0) / 1000.0 for b in prog]
            return statistics.median(vals) if vals else 0.0

        write_recs = [r for r in recs if r["write_bytes"]]
        per_pass.append({
            "registry.construct_s": sum(r.get("construct_s", 0) for r in recs),
            "session.jobs": c["jobs"],
            "session.stages": c["stages"],
            "session.tasks": c["tasks"],
            "session.exec_run_s": c["exec_run_ms"] / 1e3,
            "session.exec_cpu_s": c["exec_cpu_ns"] / 1e9,
            "session.gc_s": c["gc_ms"] / 1e3,
            "session.slot_util": (c["exec_run_ms"] / 1e3) / (cores * action_s)
            if action_s else 0.0,
            "session.shuffle_write_mb": c["shuffle_write_bytes"] / MB,
            "session.shuffle_read_mb": c["shuffle_read_bytes"] / MB,
            "session.spill_mb": c["spill_bytes"] / MB,
            "catalog.input_mb": c["scan_bytes"] / MB,
            "caching.drain_s": sum(r["drain_s"] for r in recs),
            "caching.drained": sum(r["drained"] for r in recs),
            "sources.writers.write_s": sum(
                r["latency_s"] for r in write_recs),
            "sources.writers.bytes": sum(r["write_bytes"] for r in recs),
            "sources.writers.files": sum(r["write_files"] for r in recs),
            "streaming.sinks.trigger_s": batch_med("triggerExecution"),
            "streaming.sinks.add_batch_s": batch_med("addBatch"),
            "streaming.sinks.wal_commit_s": batch_med("walCommit"),
            "streaming.sinks.state_rows": prog[-1]["state_rows"] if prog else 0,
            "trace.uncovered_s": tr.self_time(p["sid"], kids),
            "trace.self.construct_s": sum(
                tr.self_time(s.id, kids) for s in by("construct")),
            "trace.self.action_s": sum(
                tr.self_time(s.id, kids) for s in by("action")),
            "trace.self.op_s": sum(tr.self_time(s.id, kids) for s in by("op")),
            "trace.read_s": sum(s.end - s.start for s in by("trace.read")),
            "trace.traced_wall_s": ps.end - ps.start,
        })
    out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    out["trace.overhead_s"] = (
        out["trace.traced_wall_s"] - statistics.median(untraced_walls)
        if untraced_walls else 0.0)
    return out


UNITS = {
    "_s": "s", "_mb": "MB", ".bytes": "bytes", "_frac": "ratio",
    ".slot_util": "ratio", "write_amp": "ratio",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def ledger(passes: list[dict]) -> dict:
    """Jobs, stages, tasks and shuffle-write bytes per key per traced pass;
    a key is exact when its jobs, stages and tasks repeat across the traced
    timed passes."""
    rows: dict[str, list] = {}
    for p in passes:
        if p["sid"] is None:
            continue
        for r in p["recs"]:
            c = r["counters"]
            rows.setdefault(r["key"], []).append(
                (p["no"], c["jobs"], c["stages"], c["tasks"],
                 c["shuffle_write_bytes"]))
    out = {}
    for key, seq in rows.items():
        timed = [s[1:4] for s in seq if isinstance(s[0], int)]
        out[key] = {"passes": seq,
                    "exact": len(timed) >= 2 and len(set(timed)) == 1}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "etl_io_spark", "registry.py"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        spark, cores = start_session(work)
        try:
            report = measure(spark, cores, work, args.workload, args.seed,
                             args.seconds, bool(args.trace),
                             session_s=time.perf_counter() - T_START)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in report["lines"]:
        print(line)
    print(json.dumps(report["result"]))
    return 0


def start_session(work: str):
    """The engine's session (``session.get_spark``) on ``local[<cores>]``,
    with every file Spark, the JVM and Python write kept under ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, its launcher too: no perf-data or temp
    # files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp
    from etl_io_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (which exits when its stdin
    closes) so no process outlives the run."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - never leave the JVM behind
        proc.kill()
        proc.wait()


def measure(spark, cores: int, work: str, workload: str, seed: int,
            seconds: float, trace: bool, session_s: float, sf: float = SF,
            min_passes: int | None = None) -> dict:
    """Set up, warm up, time and verify one workload; returns the report
    lines, the result object and (when traced) the tracer."""
    import datagen
    import workloads
    from verify import Oracle

    # -- inputs: generated and split for the stream/compaction ops
    input_times = []
    for i in range(INPUT_REPEATS):
        t = time.perf_counter()
        d = os.path.join(work, f"inputs{i}")
        tabs = datagen.generate(os.path.join(d, "tables"), seed, sf)
        datagen.split_files(tabs["events"], os.path.join(d, "small"),
                            workloads.N_SMALL_FILES)
        datagen.split_files(tabs["events"], os.path.join(d, "stream"),
                            workloads.N_STREAM_FILES)
        input_times.append(time.perf_counter() - t)
        if i < INPUT_REPEATS - 1:
            shutil.rmtree(d)
    ctx = workloads.Ctx(
        spark=spark, sf_dir=os.path.join(d, "tables"),
        out_dir=os.path.join(work, "out"), small_dir=os.path.join(d, "small"),
        stream_dir=os.path.join(d, "stream"),
        n_orders=tabs["orders"].num_rows,
    )
    ops = workloads.ops_for(workload)
    random.Random(seed).shuffle(ops)

    tracer = Tracer() if trace else None
    store = StatusStore(spark)
    runner = Runner(spark, ctx, ops, tracer, store)
    run_sid = tracer.open("run") if tracer else None

    # -- warm-up (set-up): untimed passes; the first captures outputs
    t = time.perf_counter()
    warm = [runner.run_pass(f"w{i}", capture=i == 0, parent=run_sid)
            for i in range(WARMUP_PASSES)]
    warmup_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(input_times) + warmup_s

    # -- timed window: whole passes until ``seconds`` have elapsed
    calib_pre = calibrate()
    store.settle()
    shuffle0 = store.shuffle_write_total()
    passes = []
    if min_passes is None:
        min_passes = TRACE_MIN_PASSES if trace else 1
    t_window = time.perf_counter()
    while True:
        traced = trace and len(passes) % 2 == 0
        passes.append(runner.run_pass(len(passes) + 1, capture=False,
                                      parent=run_sid if traced else None))
        if (time.perf_counter() - t_window >= seconds
                and len(passes) >= min_passes):
            break
    window_s = time.perf_counter() - t_window
    store.settle()
    shuffle1 = store.shuffle_write_total()
    calib_post = calibrate()
    # the program's peak, before verification's read-backs and DuckDB
    peak_kb = vm_hwm_kb(spark.sparkContext._gateway.proc.pid) + vm_hwm_kb("self")
    if tracer:
        tracer.close(run_sid)

    # -- verification (untimed)
    t = time.perf_counter()
    verdict = verify_all(ctx, ops, warm[0]["recs"], passes[-1]["recs"], Oracle)
    verify_s = time.perf_counter() - t

    recs = [r for p in passes for r in p["recs"]]
    attempted = len(recs)
    ok = sum(1 for r in recs if r["error"] is None and verdict[r["key"]] is None)
    lat = [r["latency_s"] for r in recs]
    written = sum(r["write_bytes"] for r in recs)
    shuffled = shuffle1 - shuffle0
    input_bytes = tree_size(ctx.sf_dir)[0]

    lines = [f"# workload={workload} seed={seed} sf={sf} cores={cores} "
             f"passes={len(passes)} ops={attempted} window={window_s:.3f}s "
             f"verify={verify_s:.3f}s trace={int(trace)}",
             "# pass walls: warm-up " + " ".join(f"{p['wall']:.3f}" for p in warm)
             + " | timed " + " ".join(f"{p['wall']:.3f}" for p in passes)]
    lines += [f"# FAIL {key}: {problem}"
              for key, problem in verdict.items() if problem]
    diag = {
        "peak_rss_mb": peak_kb / 1024.0,
        "host.calib_pre_s": calib_pre,
        "host.calib_post_s": calib_post,
        "setup.session_s": session_s,
        "setup.inputs_s": statistics.median(input_times),
        "setup.warmup_s": warmup_s,
    }
    if trace:
        walls = [p["wall"] for p in passes if p["sid"] is None]
        metrics = layer_metrics(tracer, passes, cores, walls)
        metrics.update(diag)
        led = ledger(warm + passes)
        metrics["ledger.exact_keys"] = sum(v["exact"] for v in led.values())
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{workload}-s{seed}.json")
        tracer.write(trace_path, {"ledger": led, "metrics": metrics,
                                  "verdict": verdict})
        lines.append(f"# trace: {trace_path} ({len(tracer.spans)} spans)")
        lines += [f"# ledger {key}: {'exact' if v['exact'] else 'varies'} "
                  f"{v['passes']}" for key, v in sorted(led.items())]
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(p["wall"] for p in passes),
            "op_p50_s": statistics.median(lat),
            "op_p90_s": pct(lat, 90),
            "write_amp": (shuffled + written) / len(passes) / input_bytes,
            "ok_ops_frac": ok / attempted,
        }
        lines += [f"# {k} = {v:.6g} {unit_of(k)}" for k, v in diag.items()]
    lines += [f"{k} = {v:.6g} {unit_of(k)}" for k, v in metrics.items()]
    result = {
        "correct": ok == attempted,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()},
    }
    return {"lines": lines, "result": result, "tracer": tracer,
            "verdict": verdict, "warm": warm, "passes": passes, "ops": ops,
            "ctx": ctx}


def verify_all(ctx, ops, captured: list[dict], last: list[dict],
               oracle_cls) -> dict[str, str | None]:
    """Problem (or None) per op: query ops are checked on the outputs the
    first warm-up pass captured, writing ops on what the last timed pass
    wrote."""
    oracle = oracle_cls(ctx.sf_dir)
    verdict: dict[str, str | None] = {}
    try:
        for i, op in enumerate(ops):
            src = captured[i] if op.kind == "query" else last[i]
            if src["error"] or src["result"] is None:
                verdict[op.name] = src["error"] or "no output"
                continue
            try:
                verdict[op.name] = op.verify(ctx, oracle, src["result"])
            except Exception as e:  # noqa: BLE001 - a crash is a failed check
                verdict[op.name] = f"verify error {type(e).__name__}: {e}"[:400]
    finally:
        oracle.close()
    return verdict


if __name__ == "__main__":
    sys.exit(main())
