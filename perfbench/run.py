"""The repository benchmark: two workloads, over the engine's batch and
serving paths; their traced runs also cover the multi-job batch operators
and the streaming path.

    python3 perfbench/run.py --workload batch_relational --seed 1 --seconds 15 --trace 0

Run from the repository root.  Each run generates its inputs from ``--seed``
under ``.perfbench_work/``, starts the engine at ``local[nproc]``, sets up
and warms up, measures (batch passes for ``--seconds``; the serving
requests are fixed work), checks every output, and prints one JSON object
as the last line of stdout.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the timed phase untraced and then traced, adds the
per-layer-only passes (the multi-job batch operators after batch_relational,
the streaming path after serve_retrieve), reports the per-layer metrics and
the tracing overhead, and writes the spans to
``.perfbench_work/<workload>/spans.jsonl``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("batch_relational", "serve_retrieve")
# serving reads only the corpus; the streaming pass makes its own events
INPUT_TABLES = {"serve_retrieve": ("documents",)}
DEFAULT_SEED = 1
HELD_OUT_SEED = 20261016  # reserved for confirming claims; never tune on it


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics of
    BENCHMARK.json, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Context:
    """What a workload needs from the harness, and where it reports."""

    def __init__(self, args, work_dir: str, inputs: str):
        from harness import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work_dir = work_dir
        self.inputs = inputs
        self.tracer = Tracer(False)
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.spark = None
        self._excluded = 0.0
        self._sampler = None

    # -- set-up --------------------------------------------------------------
    @contextmanager
    def excluded(self):
        """Work that is not set-up: input generation and oracles."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._excluded += time.perf_counter() - t0

    def start_spark(self):
        from harness import start_session

        self.spark, elapsed, desc = start_session(self.work_dir)
        self.layers["spark_session.start_s"] = elapsed
        self.note(desc)
        return self.spark

    def setup_part(self, name: str, seconds: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + seconds

    def setup_done(self) -> None:
        self.metrics["setup_s"] = time.perf_counter() - PROCESS_START - self._excluded

    # -- timed phases --------------------------------------------------------
    def phase_start(self, traced: bool = False) -> None:
        from harness import RssSampler, jvm_pid

        self.tracer.enabled = traced
        if not traced:
            pids = [os.getpid()] + [p for p in [jvm_pid(self.spark)] if p]
            self._sampler = RssSampler(pids).start()

    def phase_end(self, traced: bool = False) -> None:
        self.tracer.enabled = False
        if not traced:
            self.layers["memory.peak_rss_mb"] = self._sampler.stop()

    def overhead(self, traced: float, untraced: float) -> None:
        self.layers["tracing.overhead_ratio"] = traced / untraced - 1.0 if untraced else 0.0

    def status_store(self):
        from harness import StatusStore

        return StatusStore(self.spark)

    # -- reporting -----------------------------------------------------------
    def e2e(self, **metrics: float) -> None:
        self.metrics.update(metrics)

    def layer(self, metrics: dict[str, float]) -> None:
        self.layers.update(metrics)

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"FAIL {msg}", file=sys.stderr, flush=True)

    def note(self, msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


def _stop_engine(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args(argv)

    missing = [p for p in ("BENCHMARK.json", "pathwaydataframework_spark/__init__.py",
                           "__spark_entry__.py", "tests/oracle_check.py") if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {missing}",
              file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import the package and the query module
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # collected timestamps then read like the UTC session's
    time.tzset()
    sys.path[:0] = [ROOT, HERE]

    import gen
    from harness import host_spin_ms

    inputs = os.path.join(work_dir, "inputs")
    ctx = Context(args, work_dir, inputs)
    with ctx.excluded():
        ctx.layers["host.spin_ms"] = host_spin_ms()
        digest = gen.generate(inputs, args.seed, args.scale, INPUT_TABLES.get(args.workload, gen.TABLES))
    ctx.note(f"workload={args.workload} seed={args.seed} scale={args.scale} inputs sha256={digest}")

    try:
        if args.workload == "batch_relational":
            import batch
            batch.run(ctx)
        else:
            import serve
            serve.run(ctx)
    finally:
        if ctx.spark is not None:
            _stop_engine(ctx.spark)
        if ctx.trace:
            ctx.tracer.write(os.path.join(work_dir, "spans.jsonl"))
        shutil.rmtree(inputs, ignore_errors=True)
        shutil.rmtree(os.path.join(work_dir, "spark-local"), ignore_errors=True)

    error_rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    end_to_end = metric_units("end_to_end")
    if ctx.trace:  # layers the workload does not run report 0
        units, values = metric_units("per_layer"), ctx.layers
    else:
        units, values = end_to_end, ctx.metrics
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    for name, unit in end_to_end.items():
        print(f"{name} {ctx.metrics.get(name, 0.0):.6g} {unit}")
    print(f"error_rate {error_rate:.6g} ratio ({ctx.failed}/{ctx.attempted})")
    if ctx.trace:
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed if ctx.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
