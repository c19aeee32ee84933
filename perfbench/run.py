#!/usr/bin/env python3
"""Layered benchmark of the corpus link-graph engine.

    python3 perfbench/run.py --workload corpus_wcc --seed 1 --seconds 10 --trace 0

Works from any directory: the package is found next to this directory, and
every file the run writes (corpus, shuffle, checkpoints, outputs, event log,
JVM temp files) goes under ``.perfbench/`` at the repository root.

One run: start a Spark session at ``local[<cores>]`` with the engine's
defaults, set up (corpus generation, plus the graph caches the workload
times against; repeated where a repeat is cheap), warm up with one untimed
iteration, then run ``--seconds`` / (the workload's nominal iteration time)
timed iterations, at least one, checking every iteration's output against
an oracle computed without Spark. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run enables the Spark event log, runs one traced
iteration, folds task counters into the spans and writes every span to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import ExitStack, nullcontext
from pathlib import Path

from spans import Tracer, fold_event_log, layer_rollup, span_metrics

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"

END_TO_END = (("run_s", "s"), ("setup_s", "s"))
LAYERS = ("sources.corpus", "sources.extract", "graph.graph", "graph.bsp",
          "operators", "sources.outputs")
LAYER_FIELDS = (("wall_s", "s"), ("self_s", "s"), ("jobs", "count"),
                ("tasks", "count"), ("run_ms", "ms"), ("gc_frac", "ratio"),
                ("shuffle_write_bytes", "B"), ("shuffle_write_records", "count"),
                ("shuffle_read_bytes", "B"), ("spill_bytes", "B"),
                ("failed_tasks", "count"), ("task_skew", "ratio"),
                ("busy_frac", "ratio"))
# Each workload runs only some operators, so per-operator figures are the
# counts and ratios, which read 0 where the operator does not run; the
# operator layer's times are in the "operators" rollup.
OPERATORS = ("operators.wcc", "operators.pagerank", "operators.closeness")
OPERATOR_FIELDS = (("tasks", "count"), ("shuffle_write_bytes", "B"),
                   ("shuffle_write_records", "count"),
                   ("shuffle_read_bytes", "B"), ("task_skew", "ratio"))
EXTRAS = (("session.get_spark.wall_s", "s"),
          ("sources.extract.verified_rows", "count"),
          ("graph.graph.sym_edges", "count"), ("graph.graph.vertices", "count"),
          ("graph.graph.cached_mb", "MB"), ("graph.bsp.supersteps", "count"),
          ("graph.bsp.snapshot_bytes", "B"),
          ("graph.bsp.pinned_rdds_delta", "count"),
          ("graph.bsp.step_s_p50", "s"), ("sources.outputs.bytes_written", "B"),
          ("trace.run_s", "s"),
          # Neither repeats within a tenth between seeds at one iteration per
          # run: PageRank's wall swings more than the whole timed region's,
          # and the driver JVM's VmHWM by a third.
          ("operators.edges_per_s", "1/s"), ("jvm_peak_rss_mb", "MB"))


def per_layer_units() -> dict[str, str]:
    """Name → unit of every per-layer metric, in report order."""
    out = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS}
    out.update({f"{op}.{f}": u for op in OPERATORS for f, u in OPERATOR_FIELDS})
    out.update(dict(EXTRAS))
    return out


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep the run's files inside the checkout, and let Spark's Python
    workers import the package: they start from the JVM's environment, so
    this process's ``sys.path`` does not reach them."""
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # the engine's own default driver heap, not a caller's override
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    sys.path.insert(0, str(ROOT))


def start_session(work: Path, cores: int, trace: bool):
    from hugegraph_computer_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f'-Djava.io.tmpdir="{work / "tmp"}" -XX:-UsePerfData',
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            # Spark 4 compresses with zstd by default; the fold reads plain JSON
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, which flushes the event log, then end the JVM and wait
    for it (it exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def attempt(wl, around=nullcontext) -> tuple[float, dict] | None:
    """One timed iteration, run inside ``around()``, and its check; None if
    either failed."""
    try:
        with around():
            t = time.perf_counter()
            res = wl.iterate()
            dt = time.perf_counter() - t
        problems = wl.check(res)
    except Exception:
        traceback.print_exc()
        return None
    if problems:
        print(f"{wl.name}: {len(problems)} output mismatches: {problems[:5]}", file=sys.stderr)
        return None
    return dt, res


def run(args: argparse.Namespace) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    trace = bool(args.trace)
    tracer = Tracer(run_id=f"pb{os.getpid()}", enabled=trace)
    try:
        from workloads import WORKLOADS

        from hugegraph_computer_spark.graph.bsp import SuperstepLoop

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        with ExitStack() as stack:
            if trace:
                orig = SuperstepLoop.materialize
                SuperstepLoop.materialize = tracer.wrap(orig, "graph.bsp", "SuperstepLoop.materialize")
                stack.callback(setattr, SuperstepLoop, "materialize", orig)
            t0 = time.perf_counter()
            with tracer.span("session", "get_spark"):
                spark = start_session(work, cores, trace)
            session_s = time.perf_counter() - t0
            stack.callback(stop_session, spark)
            tracer.sc = spark.sparkContext
            wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)

            setups = []
            for i in range(wl.setup_reps):
                tracer.enabled = trace and i == wl.setup_reps - 1  # trace the last
                t = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t)
            tracer.enabled = False
            t = time.perf_counter()
            wl.build_oracle()
            oracle_s = time.perf_counter() - t
            wl.iterate()  # warm-up: one untimed, unchecked iteration
            warmup_s = time.perf_counter() - t - oracle_s

            if trace:
                # one iteration, at the same point of the run as the first
                # timed iteration of an untraced run: trace.run_s minus that
                # run's run_s is the tracing overhead
                attempted = 1
                tracer.enabled = True
                before = pinned_count(spark)
                traced = attempt(wl, lambda: tracer.span("perfbench", "iteration"))
                pinned_delta = pinned_count(spark) - before
                root = next(s for s in tracer.spans if s.layer == "perfbench")
                ok = [traced] if traced else []
            else:
                # A fixed count per workload, not "until the time is up":
                # successive iterations keep getting faster as the JVM warms,
                # so a count that depended on speed would shift the median.
                attempted = max(1, int(args.seconds // wl.iteration_s))
                ok = [r for r in (attempt(wl) for _ in range(attempted)) if r is not None]
            rss = jvm_peak_rss_mb(spark)
            iters = ", ".join(
                f"{dt:.1f}s (operator {r['op_s']:.1f}s, {r['supersteps']} supersteps)"
                for dt, r in ok
            )
            print(f"phases: session {session_s:.1f}s, set-ups "
                  f"{', '.join(f'{x:.1f}s' for x in setups)}, oracle {oracle_s:.1f}s, "
                  f"warm-up {warmup_s:.1f}s, iterations {iters}")
            # stop_session runs here, before the event log is read
        failed = attempted - len(ok)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        if not trace:
            metrics = end_to_end(ok, wl, session_s, setups)
        else:
            records = span_metrics(tracer.spans, fold_event_log(work / "eventlog"), cores)
            metrics = per_layer(records, wl, root, traced, pinned_delta, rss, cores)
            write_trace(args, records, traced)
        return {**result, "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pinned_count(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def end_to_end(ok, wl, session_s, setups) -> dict:
    values = {
        "run_s": statistics.median(dt for dt, _ in ok) if ok else 0.0,
        "setup_s": session_s + statistics.median(setups),
    }
    print(f"{wl.name}: {len(ok)} timed iterations (median), "
          f"{len(setups)} set-ups (median)")
    for name, unit in END_TO_END:
        print(f"  {name} = {values[name]:.6g} {unit}")
    if ok:
        print(f"  headline operator: {statistics.median(edges_per_s(wl, r) for _, r in ok):.6g} "
              f"edges/s ({wl.oracle.sym_edges} symmetrized edges)")
    return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}


def edges_per_s(wl, res: dict) -> float:
    """Symmetrized edges × supersteps executed / wall of the headline
    operator call (PageRank, or WCC in corpus_wcc)."""
    return wl.oracle.sym_edges * res["supersteps"] / res["op_s"]


def per_layer(records, wl, root, traced, pinned_delta, rss, cores) -> dict:
    from workloads import dir_bytes

    values = {}
    for layer in (*LAYERS, *OPERATORS):
        roll = layer_rollup(records, layer, cores)
        fields = LAYER_FIELDS if layer in LAYERS else OPERATOR_FIELDS
        values.update({f"{layer}.{f}": roll[f] for f, _ in fields})
    in_iter = [r for r in records if r["start"] >= root.start and r["end"] <= root.end]
    steps = [r["wall_s"] for r in in_iter if r["name"] == "graph.bsp.SuperstepLoop.materialize"]
    res = traced[1] if traced else {}
    values.update({
        "session.get_spark.wall_s": next(r["wall_s"] for r in records if r["layer"] == "session"),
        "sources.extract.verified_rows": res.get("verified", 0),
        "graph.graph.sym_edges": wl.oracle.sym_edges,
        "graph.graph.vertices": wl.extras["graph.graph.vertices"],
        "graph.graph.cached_mb": wl.extras["graph.graph.cached_mb"],
        "graph.bsp.supersteps": len(steps),
        "graph.bsp.snapshot_bytes": wl.extras["graph.bsp.snapshot_bytes"],
        "graph.bsp.pinned_rdds_delta": pinned_delta,
        "graph.bsp.step_s_p50": statistics.median(steps) if steps else 0.0,
        "sources.outputs.bytes_written": dir_bytes(wl.out_path),
        "trace.run_s": root.wall_s,
        "operators.edges_per_s": edges_per_s(wl, res) if res else 0.0,
        "jvm_peak_rss_mb": rss,
    })
    print(f"{wl.name}: per-layer figures of the last set-up and one traced iteration")
    units = per_layer_units()
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def write_trace(args, records, traced) -> None:
    (OUT / "traces").mkdir(parents=True, exist_ok=True)
    path = OUT / "traces" / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "records": records,
                   "pagerank_history": traced[1].get("history") if traced else None},
                  f, indent=1)
    print(f"{'span':44} {'wall_s':>8} {'self_s':>8} {'jobs':>5} {'tasks':>6} "
          f"{'shuf_w_bytes':>13} {'shuf_w_recs':>11}")
    for r in records:
        depth, p = 0, r["parent"]
        while p is not None:
            depth, p = depth + 1, records[p]["parent"]
        print(f"{'  ' * depth + r['name']:44.44} {r['wall_s']:8.3f} {r['self_s']:8.3f} "
              f"{r['jobs']:5d} {r['tasks']:6d} {r['shuffle_write_bytes']:13d} "
              f"{r['shuffle_write_records']:11d}")
    print(f"trace written to {path}")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "hugegraph_computer_spark" / "__init__.py").is_file():
        print(f"perfbench: no hugegraph_computer_spark package under {ROOT}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
