"""Repository benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload, small inputs, traced

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end set, with ``--trace 1`` the
per-layer set (see ``BENCHMARK.json``). The line before it is a detail
record: the workload's own named figures with units, sample counts and
tail percentiles, the seed, and any failed checks. A traced run also
writes its spans to ``.perfbench/traces/``.

Everything the run writes lives under ``.perfbench/`` in the current
directory; its work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import REPO_ROOT, JobCounter, Patch, Tracer, start_spark, stop_spark  # noqa: E402

sys.path.insert(0, REPO_ROOT)


def _metric_units(key: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` lists, in its order."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


E2E_UNITS = _metric_units("end_to_end")
E2E = tuple(E2E_UNITS)
# Layers a workload does not reach read 0.
PER_LAYER = _metric_units("per_layer")


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool, spark, get_spark_s, work):
    """Set up, measure untraced, and (``trace``) measure again traced.
    Returns ``(result line dict, detail dict)``."""
    from workloads import WORKLOADS, Ctx
    from harness import median

    tracer = Tracer(False, JobCounter(spark))
    ctx = Ctx(spark=spark, work=os.path.join(work, name), seed=seed, smoke=smoke, tracer=tracer)
    w = WORKLOADS[name](ctx)
    t0 = time.perf_counter()
    w.setup()
    setup_wall = time.perf_counter() - t0
    base = w.measure(seconds)
    e2e = {"setup_s": median(w.setup_samples), **base["e2e"]}
    detail = {
        "workload": name, "seed": seed, "seconds": seconds, "clients": 1, "loop": "closed",
        "setup_samples": len(w.setup_samples), "setup_wall_s": round(setup_wall, 3),
        "setup_phases_s": {k: round(v, 3) for k, v in getattr(w, "setup_phases", {}).items()},
        "session.get_spark_s": round(get_spark_s, 4),
        "end_to_end": {m: {"value": e2e[m], "unit": E2E_UNITS[m]} for m in E2E},
        **base["detail"],
    }
    if not trace:
        metrics = {m: {"value": e2e[m], "unit": E2E_UNITS[m]} for m in E2E}
    else:
        patch = Patch()
        w.install(patch, tracer)
        tracer.enabled = True
        try:
            traced = w.measure(seconds)
        finally:
            tracer.enabled = False
            patch.undo()
        layers = w.layers(tracer)
        values = {n: 0 for n in PER_LAYER}
        values.update({k: v for k, v in layers.items() if k in PER_LAYER})
        values["session.get_spark_s"] = get_spark_s
        values["ops_failed_ratio"] = ctx.failed / max(ctx.attempted, 1)
        for m in (m for m in E2E if m != "setup_s"):
            values[f"trace.overhead.{m}"] = traced["e2e"][m] - base["e2e"][m]
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER.items()}
        detail["traced"] = traced["detail"]
        detail["layers"] = layers
        if hasattr(w, "per_generation_jobs"):
            detail["per_generation_jobs"] = w.per_generation_jobs
        out = os.path.join(os.getcwd(), ".perfbench", "traces", f"{name}-seed{seed}-{os.getpid()}.json")
        tracer.dump(out)
        detail["trace_file"] = os.path.relpath(out)
        detail["spans"] = len(tracer.spans)
    detail["ops_failed_ratio"] = {"value": ctx.failed / max(ctx.attempted, 1), "unit": "ratio",
                                  "failed": ctx.failed, "attempted": ctx.attempted}
    detail["problems"] = ctx.problems[:20]
    line = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    return line, detail


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on small inputs, traced, for one second each")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")

    # A terminated run still stops its session (``finally`` below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(root, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Library code that makes temporary directories writes inside the run.
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    spark = None
    try:
        spark, get_spark_s = start_spark(work)
        if args.smoke:
            lines = []
            for name in WORKLOADS:
                line, detail = run_workload(name, args.seed, 1, True, True, spark, get_spark_s, work)
                print(json.dumps(detail), flush=True)
                lines.append({"workload": name, **{k: line[k] for k in ("correct", "attempted", "failed")}})
            line = {
                "correct": all(x["correct"] for x in lines),
                "attempted": sum(x["attempted"] for x in lines),
                "failed": sum(x["failed"] for x in lines),
                "metrics": {},
                "workloads": lines,
            }
        else:
            line, detail = run_workload(
                args.workload, args.seed, args.seconds, bool(args.trace), False, spark, get_spark_s, work
            )
    finally:
        # Every process the session started has ended before this returns,
        # on every path out.
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not args.smoke:
        print(json.dumps(detail), flush=True)
    print(json.dumps(line), flush=True)
    # A timed run reports failures in its result line; the smoke run is a
    # pass/fail check.
    return 0 if (line["correct"] or not args.smoke) else 1


if __name__ == "__main__":
    try:
        import kinesis_iterator_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library under test: {e}", file=sys.stderr)
        raise SystemExit(2)
    raise SystemExit(main())
