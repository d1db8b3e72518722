"""Benchmark entry point.

    python3 perfbench/run.py --workload ordered_skew --seed 1 --seconds 15 --trace 0

Generates the seeded inputs (cached under ``.perfbench/cache``), starts one
local Spark session with ``slots`` task slots, registers the input, runs an
untimed warm-up pass whose output is checked against the per-turn oracle,
then repeats timed passes for ``--seconds``, and at least the workload's
``min_passes`` (at least four in a traced run, which alternates untraced
and traced passes).  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Spans of a
traced run are written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

# the driver heap (-Xmx) of every run: Spark's own default, where the
# program's 48g default is sized for a large host
DRIVER_MEM = "1g"


def task_slots() -> int:
    """Spark task slots: one core is left to the driver JVM, the Python
    driver and the RSS sampler, capped at 3."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def configure_env(work: Path) -> None:
    """Keep every file Spark and Python write inside ``work``; executor
    Python workers import the program from ``ROOT``."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every other
    child process have exited."""
    from pyspark import SparkContext

    from perfbench.probes import _tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    """One benchmark run; ``scale`` shrinks the inputs (for the benchmark's
    own tests)."""
    work = ROOT / ".perfbench"
    configure_env(work / "work")

    from mistral_ocr_pipeline_spark.session import get_spark

    from perfbench import gate, probes
    from perfbench.inputs import ensure_inputs
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx, layer_metrics

    w = WORKLOADS[workload]()
    slots = task_slots()
    t = time.perf_counter()
    inputs = ensure_inputs(
        w.family, seed, slots, str(work / "cache"), workers=len(os.sched_getaffinity(0)), scale=scale
    )
    gen_s = time.perf_counter() - t  # kept out of setup_s
    log(f"inputs ready: {inputs.n_turns} turns")

    tracer = Tracer(enabled=trace)
    untraced = Tracer(enabled=False)
    tracer.run_id = "setup"
    res = gate.GateResult(attempted=inputs.n_turns)
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{workload}",
            cores=slots,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # applied after get_spark's own default, so no inherited
                # environment variable sizes the heap
                "spark.driver.memory": DRIVER_MEM,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'work' / 'tmp'}",
            },
        )
    log("session up")
    try:
        ctx = Ctx(spark, slots, inputs, str(work / "work"))
        ctx.df = w.register(ctx)
        log("input registered")
        check = w.warm_up(ctx)
        setup_s = time.perf_counter() - T_START - gen_s
        log(f"warm-up done, setup_s={setup_s:.3f}")
        t = time.perf_counter()
        w.check_layout(ctx, res)
        check(res)
        log(f"input layout and warm-up output checked in {time.perf_counter() - t:.3f}s")
        del check
        gc.collect()

        if trace:
            # the first pass after warm-up runs slow: keep it out of the
            # traced/untraced comparison
            w.run_pass(ctx, untraced)
            w.after_pass(ctx, res)
        times: dict[bool, list[float]] = {False: [], True: []}
        with probes.PeakRSS() as rss:
            t_end = time.perf_counter() + seconds
            i = 0
            # a traced run alternates untraced and traced passes
            min_passes = 4 if trace else w.min_passes
            while i < min_passes or time.perf_counter() < t_end:
                traced = trace and i % 2 == 1
                tracer.run_id = f"pass-{i}"
                t = time.perf_counter()
                w.run_pass(ctx, tracer if traced else untraced)
                times[traced].append(time.perf_counter() - t)
                w.after_pass(ctx, res)
                log(f"pass {i} traced={traced} {times[traced][-1]:.3f}s")
                i += 1
        log(f"peak rss {rss.peak_mb:.1f} MB, by process (MB): {[p >> 20 for p in rss.peak_parts]}")
        canary = probes.canary_s(spark, slots)
        finished = w.finish(ctx, res, tracer)
        log(f"canary {canary:.3f}s, finished")
        tps = inputs.n_turns / statistics.median(times[False])
        if trace:
            traced_tps = inputs.n_turns / statistics.median(times[True])
            metrics = layer_metrics(w, ctx, tracer, tps, traced_tps)
            metrics.update(finished)
            metrics["host.canary_s"] = canary
        else:
            metrics = {"setup_s": setup_s, "turns_per_s": tps, "peak_rss_mb": rss.peak_mb}
    finally:
        stop_spark(spark)
    log(f"stopped; problems={res.problems}")
    if trace:
        (work / "traces").mkdir(parents=True, exist_ok=True)
        tracer.dump(str(work / "traces" / f"{workload}-s{seed}.json"))
        for name, t in sorted(tracer.self_times().items()):
            log(f"layer {name}: calls={t['calls']} total={t['total_s']:.3f}s self={t['self_s']:.3f}s")
    units = _units()
    if set(metrics) != set(units[trace]):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(units[trace]))}")
    return {
        "correct": res.ok,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[trace][k]} for k, v in metrics.items()},
    }


def _units() -> dict[bool, dict[str, str]]:
    """Metric name -> unit, keyed by trace mode, from ``BENCHMARK.json``."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        False: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        True: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
