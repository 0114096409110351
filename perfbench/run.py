"""Benchmark for the collect→alter→forward→store engine.

    python3 perfbench/run.py --workload replay_drain --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are made from ``--seed``; the
engine only sees the generated files. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. The workloads'
own named figures and any failures go to standard error. Spans of a
traced run are written to ``.perfbench_out/``.
"""

import time

T_PROCESS = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _isolate(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``, size the
    engine's local master to this machine's processors, and fix the
    driver's heap at its maximum, so that heap growth during a run does
    not change how often the collector runs."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g' "
        f"--conf spark.local.dir={local} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def result_line(spec: dict, res, trace: bool) -> str:
    """The final JSON line. Refuses a metric set that differs from
    ``BENCHMARK.json``, so the printed names cannot drift from it."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    got = res.layers if trace else res.e2e
    names = [m["name"] for m in declared]
    if set(got) != set(names):
        raise ValueError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(names) - set(got))}, "
            f"extra {sorted(set(got) - set(names))}"
        )
    return json.dumps(
        {
            "correct": res.failed == 0,
            "attempted": int(res.attempted),
            "failed": int(res.failed),
            "metrics": {m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]} for m in declared},
        }
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    sys.path[0] = ROOT  # import perfbench as a package; its modules must not shadow others
    from perfbench.common import CpuMeter

    meter = CpuMeter()

    import dcafs_spark  # noqa: F401 — the engine is built from this checkout; fail fast without it

    from perfbench.analytics import analytics_mix
    from perfbench.common import Ctx, stop_spark
    from perfbench.spans import Tracer
    from perfbench.streams import streaming

    workloads = {"streaming": streaming, "analytics_mix": analytics_mix}

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    _isolate(work)
    ctx = Ctx(args.seed, args.seconds, bool(args.trace), work, T_PROCESS, Tracer(run_id), meter)
    try:
        res = workloads[args.workload](ctx)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:  # a workload that raised leaves its session running
            stop_spark(active)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        for m in spec["per_layer"]:  # layers this workload does not exercise read 0
            res.layers.setdefault(m["name"], 0.0)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        ctx.tracer.dump(os.path.join(out, f"{run_id}.spans.jsonl"))
    for k, v in sorted({**res.report, **(res.layers if args.trace else res.e2e)}.items()):
        print(f"{k:40s} {v:.6g}", file=sys.stderr)
    for k, n in sorted(res.failures.items()):
        print(f"FAILED {k}: {n}", file=sys.stderr)
    line = result_line(spec, res, bool(args.trace))
    sys.stdout.flush()
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
