"""Self-test of the benchmark at sf0.001, one pass per workload.

    python3 perfbench/selftest.py

In one Spark session, for every workload in BENCHMARK.json and for
``etl_query_mix``, it runs one warm-up pass and one timed pass, untraced
and traced, and checks that

* every metric BENCHMARK.json names is printed with its unit;
* the span tree is well-formed (each child inside its parent, no negative
  self time);
* verification passes on the real outputs, and fails on an op's output
  (captured rows, or written files) with one row dropped.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402

SF = 0.001


def check_metrics(report: dict, spec: list[dict], problems: list[str],
                  label: str) -> None:
    got = report["result"]["metrics"]
    for m in spec:
        if m["name"] not in got:
            problems.append(f"{label}: metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            problems.append(f"{label}: {m['name']} unit "
                            f"{got[m['name']]['unit']} != {m['unit']}")
        elif not any(line.startswith(f"{m['name']} = ")
                     and line.endswith(f" {m['unit']}")
                     for line in report["lines"]):
            problems.append(f"{label}: {m['name']} not printed with its unit")


def check_altered_output(report: dict, problems: list[str], label: str) -> None:
    """Verification must pass on an op's real output and fail once one row
    of it is dropped (a captured query output, or written files)."""
    from verify import Oracle

    ctx, ops = report["ctx"], report["ops"]
    oracle = Oracle(ctx.sf_dir)
    try:
        for i, op in enumerate(ops):
            if op.kind == "query":
                res = report["warm"][0]["recs"][i]["result"]
                cols, rows = res.rows
                if not rows:
                    continue
                altered = dataclasses.replace(res, rows=(cols, rows[1:]))
            elif op.kind in ("corpus", "write"):
                res = report["passes"][-1]["recs"][i]["result"]
                df = ctx.spark.read.parquet(res.paths[0])
                n = df.count()
                if n == 0:
                    continue
                path = res.paths[0] + "_altered"
                df.limit(n - 1).write.parquet(path)
                altered = dataclasses.replace(res, paths=[path])
            else:
                continue
            if op.verify(ctx, oracle, res) is not None:
                problems.append(f"{label}: {op.name} fails on its real output")
            if op.verify(ctx, oracle, altered) is None:
                problems.append(f"{label}: {op.name} passes with a row dropped")
            return
        problems.append(f"{label}: no non-empty output to alter")
    finally:
        oracle.close()


def main() -> int:
    from tracing import check_tree

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]] + ["etl_query_mix"]
    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    problems: list[str] = []
    t0 = time.perf_counter()
    try:
        spark, cores = run.start_session(work)
        try:
            for name in names:
                for trace in (False, True):
                    label = f"{name} trace={int(trace)}"
                    rep = run.measure(spark, cores, os.path.join(work, name),
                                      name, seed=1, seconds=0, trace=trace,
                                      session_s=0.0, sf=SF, min_passes=1)
                    spec = bench["per_layer" if trace else "end_to_end"]
                    check_metrics(rep, spec, problems, label)
                    bad = {k: v for k, v in rep["verdict"].items() if v}
                    if bad:
                        problems.append(f"{label}: verification failed {bad}")
                    if trace:
                        problems += [f"{label}: {p}"
                                     for p in check_tree(rep["tracer"])]
                        kinds = {s.name for s in rep["tracer"].spans}
                        for want in ("run", "pass", "op", "construct",
                                     "action", "drain", "job"):
                            if want not in kinds:
                                problems.append(f"{label}: no {want} span")
                    else:
                        check_altered_output(rep, problems, label)
                    print(f"{label}: {len(rep['ops'])} ops checked", flush=True)
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    print(f"selftest: {len(problems)} problems "
          f"[{time.perf_counter() - t0:.0f}s]")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
