#!/usr/bin/env python3
"""Benchmark of the ocr_spark engine: one workload per invocation, in
one local Spark session at ``local[2]`` (2 task threads plus 2 Python
workers fit 4 cores with room for JVM threads, GC and the sampler).

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the workload's inputs
from ``--seed``, computes the oracle, sets up the session once in a
fresh JVM (``setup_s``), makes one checked but untimed priming run,
then runs the workload in a closed loop (one client; the next run
starts when the previous one ends) for ``--seconds`` of measured time,
checking every output. ``--trace 1`` instead reports the per-layer
metrics. The last line of standard output is one JSON object; see
README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract_mix", "extract_sharded_small", "query_suite")
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 8  # what build_session picks for 2 CPUs
MIN_RUNS = 2
GOLDEN_SEED = 0


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=GOLDEN_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test: 0.05)")
    ap.add_argument("--update-golden", action="store_true",
                    help="record this run's oracle digest as the golden one (default seed only)")
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # Spark's default 1 GB heap, fixed and touched up front: peak RSS
        # then follows off-heap and Python-worker memory, not G1's
        # heap-growth decisions
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def _make(name: str):
    import workloads as W

    if name == "extract_mix":
        return W.Extraction(name, "mix", n_shards=1, checkpoint=False)
    if name == "extract_sharded_small":
        return W.Extraction(name, "small", n_shards=4, checkpoint=True)
    return W.QuerySuite()


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.machine()


class Tally:
    """Operations attempted and failed, with the reasons."""

    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, n: int, problems: list[str]) -> None:
        self.attempted += n
        self.failed += min(n, len(problems))
        for p in problems:
            print(f"FAILED: {p}", file=sys.stderr)


class Loop:
    """Per-run figures of one closed loop."""

    def __init__(self):
        self.walls: list[float] = []
        self.usage = []


def closed_loop(wl, spark, sampler, tracer, seconds: float, tally: Tally, first: int) -> Loop:
    """Run the workload back to back for ``seconds`` of measured time
    (at least MIN_RUNS runs) and check each output outside the timing.
    The last run's output is left for the caller."""
    loop, spent, i = Loop(), 0.0, first
    while i - first < MIN_RUNS or spent < seconds:
        wl.discard()
        with sampler.window() as usage, tracer.span("run", run=f"run{i}") as s:
            try:
                wl.run_once(spark, tracer, i)
                raised = False
            except Exception:  # counted as a failed operation; the loop goes on
                traceback.print_exc()
                raised = True
        spent += s.seconds
        if raised:
            problems = [f"{wl.name} run {i} raised"]
        else:
            loop.walls.append(s.seconds)
            loop.usage.append(usage)
            problems = wl.verify()
        tally.add(wl.ops, problems)
        i += 1
    return loop


def _summary(name: str, xs: list[float], unit: str) -> str:
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = xs[0] if xs else 0.0
    med = statistics.median(xs) if xs else 0.0
    return (f"{name} {med:.4f} {unit} (median of n={len(xs)}; q1={q1:.4f} q3={q3:.4f} "
            f"min={min(xs, default=0):.4f} max={max(xs, default=0):.4f})")


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM pyspark launched, and wait until it
    and every process below this one has ended."""
    import procstat
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    left = procstat.wait_gone(procstat.descendants(os.getpid())[1:], 30)
    for pid in left:
        os.kill(pid, signal.SIGKILL)
    procstat.wait_gone(left, 10)


def run(args, spec: dict, work: str) -> int:
    _isolate(work)
    try:
        import pyspark

        import check
        import gen
        import procstat
        import spans
        from ocr_spark.job import ensure_package_shipped, run_extraction
        from ocr_spark.plans.session import build_session

        wl = _make(args.workload)
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    phases, t_phase = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    others = procstat.other_spark_jvms()
    if others:
        print(f"WARNING: {len(others)} other Spark JVM(s) running (pids {others}); "
              "these figures are not comparable", file=sys.stderr)
    tally = Tally()
    for line in wl.prepare(work, args.seed, args.scale, GOLDEN_SEED):
        print(f"input: {line}")
    if args.update_golden:
        if wl.golden_entry is None:
            print("--update-golden needs an extraction workload at the default seed and scale",
                  file=sys.stderr)
            return 2
        check.write_golden(wl.name, wl.golden_entry)
    golden = wl.check_golden()
    if golden is not None:
        tally.add(1, golden)
    phase("inputs_and_oracle")

    warm_input = os.path.join(work, "warmup.parquet")
    gen.write_transcripts(warm_input, gen.transcripts(0, "mix", 0.01)[0])
    tracer = spans.Tracer(bool(args.trace))
    conf = _spark_conf(work)
    spark = sampler = None
    try:
        with tracer.span("setup", run="setup") as s:
            with tracer.span("plans.session.build") as b:
                spark = build_session("perfbench", master=MASTER,
                                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
            with tracer.span("job.ship") as sh:
                ensure_package_shipped(spark)
            with tracer.span("warmup") as w:
                run_extraction(spark, warm_input, os.path.join(work, "warmup"))
        setup = [s.seconds]
        parts = {"plans.session.build_s": b.seconds, "job.ship_s": sh.seconds, "warmup_s": w.seconds}
        sampler = procstat.Sampler(procstat.child_jvm(os.getpid()))
        phase("setup")
        # one checked, untimed run on the real input: JIT compilation of
        # the workload's plans would otherwise dominate the first timed runs
        try:
            wl.run_once(spark, spans.Tracer(False), 0)
            tally.add(wl.ops, wl.verify())
        except Exception:
            traceback.print_exc()
            tally.add(wl.ops, [f"{wl.name} priming run raised"])
        wl.discard()
        phase("priming")
        if not args.trace:
            loop = runs = closed_loop(wl, spark, sampler, tracer, args.seconds, tally, first=1)
        else:
            loop = closed_loop(wl, spark, sampler, spans.Tracer(False), args.seconds / 2, tally, first=1)
            runs = closed_loop(wl, spark, sampler, tracer, args.seconds / 2, tally, first=100)
        wall = statistics.median(loop.walls) if loop.walls else 0.0
        task = wl.manifest(spark) if runs.walls else {}  # the last run's lineage manifest
        wl.discard()
        print("context " + json.dumps({
            "online_cpus": procstat.online_cpus(),
            "cpu_model": _cpu_model(),
            "master": MASTER,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "num_partitions": wl.num_partitions,
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "seconds": args.seconds,
            "trace": args.trace,
            "other_spark_jvms": len(others),
        }))
        if not args.trace:
            values = {
                "setup_s": (setup, "s"),
                "wall_s": (loop.walls, "s"),
                "cpu_s": ([u.cpu_s for u in loop.usage], "s"),
                "peak_rss_mb": ([u.peak_rss_mb for u in loop.usage], "MB"),
            }
            for name, (xs, unit) in values.items():
                print(_summary(name, xs, unit))
            if wl.throughput(wall or 1.0):
                print(wl.throughput(wall or 1.0))
        else:
            values = _layers(wl, spark, sampler, tracer, parts, loop, runs, task, tally)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            for name, x in values.items():
                print(f"{name} {x:.6g} {units[name]}")
            share = values["layers.sum_s"] / wall if wall else 0.0
            print(f"layer self times sum to {values['layers.sum_s']:.4f} s of wall_s {wall:.4f} s "
                  f"({share:.1%}); unattributed {values['layers.unattributed_s']:.4f} s")
            print("span self seconds: " + json.dumps(
                {k: round(v, 4) for k, v in sorted(tracer.self_seconds().items())}))
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        phase("measured")
    finally:
        if sampler is not None:
            sampler.close()
        _stop_jvm(spark)
    phase("shutdown")
    print("harness seconds by phase: " + json.dumps(phases))

    frac = tally.failed / tally.attempted if tally.attempted else 1.0
    print(f"failed_frac {frac:.4f} ({tally.failed} of {tally.attempted} operations)")
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        if args.trace:  # a layer this workload does not exercise reads 0
            x = values.get(m["name"], 0.0)
        else:
            xs = values[m["name"]][0]
            x = statistics.median(xs) if xs else 0.0
        metrics[m["name"]] = {"value": x, "unit": m["unit"]}
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}), flush=True)
    return 0


def _layers(wl, spark, sampler, tracer, parts, untraced, traced, task, tally) -> dict:
    """Per-layer figures of a traced run, by metric name."""
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    layers = {**parts, **task}
    layers.update(wl.ledger(spark, sampler, tracer))
    tally.add(len(wl.ledger_problems), wl.ledger_problems)
    read_mb = med([u.read_mb for u in traced.usage])
    layers["io.read_mb"] = read_mb
    layers["io.write_mb"] = med([u.write_mb for u in traced.usage])
    layers["io.read_amplification"] = read_mb / wl.input_mb()
    wall = med(untraced.walls)
    layers["layers.sum_s"] = sum(layers.get(n, 0.0) for n in wl.layers_sum_names)
    layers["layers.unattributed_s"] = wall - layers["layers.sum_s"]
    layers["trace.overhead_s"] = med(traced.walls) - wall
    return {k: float(v) for k, v in layers.items()}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse(argv)
    spec = _spec()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
