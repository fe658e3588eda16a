"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Load model: one driver process runs Spark at local[<cores>] as a closed loop
with one client. One pipeline run is in flight at a time, and the next starts
when the previous result has been collected and checked. Every run's output
is checked against a reference computed without the engine, once per seed.
There is no warm-up run: the first timed run is the process's first run of
the pipeline, cold, as a one-shot import sees it. A warm-up costs as much as
the run itself here (the runs are bound by per-job and first-call costs, not
by input size), and a fresh process per run keeps every run at the same
point of the JVM's compilation curve.

stdout carries exactly one line, the JSON result. Everything else (Spark's
log4j output, warnings, the human-readable summary) goes to stderr.

--trace 0 reports the end-to-end metrics:
  throughput   input rows / median wall time of one complete run
  setup_s      process start to the first timed run (session start, input
               generation and materialisation), not counting the reference
               computation of the output check
  cpu_s        median CPU seconds of the whole process tree (driver, JVM,
               Python workers) per run, from /proc
  peak_rss_mb  peak resident memory of the process tree over the timed runs
  shuffle_mb   median shuffle bytes written per run, from Spark's status store
Runs that raise or fail their check count in `failed`; fail_ratio (failed /
attempted) is printed to stderr with the other metrics.

--trace 1 reports the per-layer metrics named in perfbench/layers.json and
writes the spans it recorded to .perfbench/trace-<workload>-seed<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MIN_RUNS = 1       # timed runs, even when one run outlasts --seconds
DEADLINE_S = 140   # stop starting new runs this long after process start
# the JVM heap's ceiling, not its size: the heap starts small and G1 grows it
# on demand. Under the 8g library default G1's adaptive sizing alone swung
# the committed heap between 1.6 and 4.0 GB across identical import_osm
# runs; under 3g the same runs stayed within 1.2-2.0 GB
DRIVER_MEMORY = "3g"
# a fixed young generation: G1 sizes it from its pause times otherwise, which
# on a shared host swings the resident heap of a cold process from run to
# run. The old generation still grows on demand, so memory a change retains
# (caches, broadcasts, collects) still moves peak_rss_mb
YOUNG_GEN = "512m"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def layer_table() -> dict:
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        return json.load(f)


def start_spark():
    from imposm2_spark.session import get_spark

    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # glibc's per-thread malloc arenas: how many a JVM ends up with depends on
    # which threads happen to contend. Over four import_osm runs the JVM's
    # peak resident size spanned 1.66-2.05 GB with the default and
    # 1.29-1.52 GB with two arenas
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cores = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store must keep every job of a process for the
            # per-group counters
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        },
    ), cores


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this one started
    (the JVM and its Python workers) has exited."""
    from perfbench.harness import process_tree

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    for _ in range(100):
        rest = [p for p in process_tree() if p != os.getpid()]
        if not rest:
            break
        for p in rest:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def run_checked(w, inputs, expected, probe, group: str):
    """One closed-loop iteration: (wall_s, cpu_s, errors). The check runs
    after the clock stops."""
    from perfbench.harness import process_tree, tree_cpu_s

    probe.set_group(group)
    c0 = tree_cpu_s(process_tree())
    t0 = time.perf_counter()
    try:
        got, errs = w.run(inputs), None
    except Exception as e:  # a failing run is counted, and the loop goes on
        got, errs = None, [f"raised {type(e).__name__}: {e}"]
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s(process_tree()) - c0
    probe.clear_group()
    if errs is None:
        errs = w.check(got, expected)
    return wall, cpu, errs


def bench(args, t_proc0: float) -> dict:
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    spark, cores = start_spark()
    try:
        session_s = time.time() - t_proc0
        probe = harness.SparkProbe(spark)
        w = WORKLOADS[args.workload](spark, args.scale)
        log(f"[perfbench] {w.name} seed={args.seed} cores={cores} size={w.size()}")

        # setup: generation + materialisation
        raw = w.generate(args.seed)
        inputs = w.materialise(raw)
        input_cache_mb = probe.cache_mb()
        setup_s = time.time() - t_proc0
        log(f"[perfbench] session {session_s:.2f}s, setup {setup_s:.2f}s")
        expected = w.reference(raw)
        rows = w.rows(inputs)
        if args.trace:
            # one untimed run, so that the first prefix spans do not carry the
            # process's first-call costs (a cold first span read 5.0 s for
            # import_osm's tag routing, and the next prefix less than it).
            # Then the spans, then the untraced run the layer split is set
            # against, so that run is no less warmed up than the traced ones
            w.run(inputs)
            tracer = harness.Tracer(probe, f"{w.name}-seed{args.seed}")
            traced = w.trace(tracer, inputs, raw, w.trace_reps)

        walls, cpus, shuffles, failures = [], [], [], []
        deadline = t_proc0 + DEADLINE_S

        def more() -> bool:
            if len(walls) < MIN_RUNS:
                return True
            # a traced run times only MIN_RUNS untraced runs, for the headline
            return not args.trace and time.perf_counter() - t_start < args.seconds and time.time() < deadline

        with harness.TreeSampler() as sampler:
            t_start = time.perf_counter()
            sampler.take()
            while more():
                group = f"run-{len(walls)}"
                wall, cpu, errs = run_checked(w, inputs, expected, probe, group)
                walls.append(wall)
                cpus.append(cpu)
                shuffles.append(probe.counters(group).shuffle_write_mb)
                if errs:
                    failures.append(errs)
                    log(f"[perfbench] run {len(walls)} FAILED: {errs}")
            peak_rss = sampler.take()
        headline = statistics.median(walls)
        log(f"[perfbench] walls {[round(x, 3) for x in walls]}")
        if args.trace:
            full = traced["full"]
            failures += [e for e in (w.check(sp.result, expected) for sp in full.spans) if e]
            metrics = layer_metrics(args, w, tracer, traced, headline, input_cache_mb)
            return {"attempted": len(walls) + len(full.spans), "failed": len(failures), "metrics": metrics}
        log(f"[perfbench] fail_ratio {len(failures) / len(walls):.4f} ratio "
            f"({len(failures)} of {len(walls)} runs), {rows} {w.rows_are} per run")
        return {"attempted": len(walls), "failed": len(failures), "metrics": {
            "throughput": (rows / headline, "rows/s"),
            "setup_s": (setup_s, "s"),
            "cpu_s": (statistics.median(cpus), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
            "shuffle_mb": (statistics.median(shuffles), "MB"),
        }}
    finally:
        stop_spark(spark)


def layer_metrics(args, w, tracer, traced: dict, headline: float, input_cache_mb: float) -> dict:
    """Per-layer metrics of a traced run: the workload's prefix layers and
    counts, the plans-level counters of its full-run spans, and the kernel
    micro-timings. Layers the workload does not run report 0. Writes the
    spans to .perfbench/. Returns {metric: (value, unit)}."""
    from perfbench.microkernels import kernel_rates

    table = layer_table()["per_layer"]
    full = traced["full"]
    values = {name: 0.0 for name in table}
    values.update(traced["layers"])
    values.update(traced["counts"])
    values.update(kernel_rates(args.seed))
    layer_sum = sum(traced["layers"].values())
    values.update({
        "plans.self_s": headline - layer_sum,
        "plans.coverage": layer_sum / headline,
        "plans.trace_overhead_s": full.wall - headline,
        "plans.jobs": full.counter(lambda c: c.jobs),
        "plans.stages": full.counter(lambda c: c.stages),
        "plans.tasks": full.counter(lambda c: c.tasks),
        "plans.executor_cpu_s": full.counter(lambda c: c.executor_cpu_s),
        "plans.gc_s": full.counter(lambda c: c.gc_s),
        "plans.shuffle_write_mb": full.counter(lambda c: c.shuffle_write_mb),
        "plans.shuffle_read_mb": full.counter(lambda c: c.shuffle_read_mb),
        "plans.spill_mb": full.counter(lambda c: c.spill_mb),
        "plans.cache_mb": statistics.median(sp.cache_mb for sp in full.spans) - input_cache_mb,
    })
    unknown = set(values) - set(table)
    if unknown:
        raise KeyError(f"metrics missing from layers.json: {sorted(unknown)}")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"trace-{w.name}-seed{args.seed}.json"), "w") as f:
        json.dump({"workload": w.name, "seed": args.seed, "size": w.size(), "headline_s": headline,
                   "layers": values, "spans": tracer.records()}, f, indent=1)
    return {k: (float(v), table[k]["unit"]) for k, v in values.items()}


def main(argv=None) -> int:
    from perfbench.harness import process_start_epoch

    t_proc0 = process_start_epoch()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the self-test runs tiny inputs)")
    args = p.parse_args(argv)

    # keep stdout for the one result line: everything else, including the
    # JVM's own stdout (inherited fd 1), goes to stderr
    out_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        import imposm2_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        log(f"[perfbench] cannot import the program under test: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"[perfbench] unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        return 2
    try:
        result = bench(args, t_proc0)
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    metrics = result.pop("metrics")
    for name, (v, unit) in metrics.items():
        log(f"[perfbench] {name:48s} {v:14.4f} {unit}")
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.write(out_fd, (json.dumps(line) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
