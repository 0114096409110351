"""analytics_mix: one client runs a fixed list of catalog queries back to
back on seeded tables (closed loop). Each result is checked against the
query's DuckDB oracle on the same files, with the normalisation of
``scripts/check_oracle.py``; the oracle runs outside the timed window.
The gated figures are the median CPU cost of a pass of the mix
(``batch_cpu_ms``) and of a query in it (``op_cpu_ms``); wall times are
printed beside them.

The list keeps one query per family so that three warm-up passes and
over ten measured passes fit in a run on four cores (the first pass
compiles for seconds per query, and JIT warm-up goes on for about three
passes): a TPC-H-style aggregate, the path-DSL pipeline, and the
MinHash containment join whose broadcast is next in line for a bound.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from perfbench import gen
from perfbench.common import CONTROL_REF_S, Ctx, Result, generating, quantiles, set_up, start_spark, stop_spark

FAMILIES = {
    "relational": ("pricing_summary",),
    "sensor": ("pipeline_dsl",),
    "curation": ("containment_pairs",),
}
WARM_PASSES = 3
NOMINAL_PASS_S = 1.5  # a warm pass on an unloaded host: --seconds sets the pass count
PLANNING_PHASES = ("analysis", "optimization", "planning")


def _oracle_digests(data: str, names) -> dict[str, str]:
    import duckdb

    from dcafs_spark.queries import QUERIES
    from scripts.check_oracle import table_digest

    con = duckdb.connect()
    try:
        for f in os.listdir(data):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{data}/{f}'")
        out = {}
        for name in names:
            tab = con.execute(QUERIES[name][1]).fetch_arrow_table()
            cols = list(tab.column_names)
            out[name] = table_digest(cols, [tuple(r[c] for c in cols) for r in tab.to_pylist()])[0]
        return out
    finally:
        con.close()


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stages += 1
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    return len(jobs), stages, tasks


class Client:
    """Runs queries one after another and records each execution."""

    def __init__(self, ctx: Ctx, spark, data: str):
        from dcafs_spark.queries import QUERIES
        from scripts.check_oracle import table_digest

        self.ctx, self.spark, self.data = ctx, spark, data
        self.queries, self.digest = QUERIES, table_digest
        self.runs: list[dict] = []  # one per query execution
        self.n = 0

    def one(self, fam: str, name: str) -> dict:
        traced = self.ctx.tracer.enabled
        sc = self.spark.sparkContext
        rec = {"fam": fam, "name": name}
        if traced:
            rec["group"] = f"{name}#{self.n}"
            sc.setJobGroup(rec["group"], rec["group"])
        self.n += 1
        t0 = time.time()
        try:
            df = self.queries[name][0](self.spark, self.data)
            t1 = time.time()
            rows = df.collect()
        except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
            print(f"{name} raised {exc!r:.500}", file=sys.stderr)
            return {**rec, "digest": None, "wall_s": time.time() - t0, "build_s": 0.0,
                    "exec_s": 0.0, "planning_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0}
        t2 = time.time()
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
        if traced:
            self.ctx.tracer.add(f"queries.{fam}.build", t0, t1)
            self.ctx.tracer.add(f"queries.{fam}.exec", t1, t2)
            phases = df._jdf.queryExecution().tracker().phases()
            rec["planning_s"] = sum(
                phases.apply(p).durationMs() for p in PLANNING_PHASES if phases.contains(p)
            ) / 1000.0
            rec["jobs"], rec["stages"], rec["tasks"] = _job_counts(sc, rec["group"])
        cols = df.columns
        rec["digest"] = self.digest(cols, [[r[c] for c in cols] for r in rows])[0]
        return rec

    def one_pass(self, traced: bool = False) -> list[dict]:
        self.ctx.tracer.enabled = traced
        self.ctx.meter.control()
        cpu0 = self.ctx.meter.cpu()
        try:
            recs = [self.one(fam, name) for fam, names in FAMILIES.items() for name in names]
        finally:
            self.ctx.tracer.enabled = False
        self.runs.extend(recs)
        return {"recs": recs, "cpu": self.ctx.meter.cpu() - cpu0, "wall": sum(r["wall_s"] for r in recs)}

    def passes(self, n: int, alternate: bool) -> tuple[list, list]:
        """``n`` whole passes back to back: (untraced, traced). With
        ``alternate`` each pass is followed by a traced one, in the order
        untraced, traced, traced, untraced, so both kinds see the same
        warm-up on average."""
        plain: list[dict] = []
        traced: list[dict] = []
        for i in range(2 * n if alternate else n):
            if alternate and i % 4 in (1, 2):
                traced.append(self.one_pass(traced=True))
            else:
                plain.append(self.one_pass())
        return plain, traced


def _family_layers(passes: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {"queries.passes": len(passes)}
    for fam in FAMILIES:
        recs = [r for p in passes for r in p["recs"] if r["fam"] == fam]
        out[f"queries.{fam}.build_s"] = sum(r["build_s"] for r in recs)
        out[f"plans.{fam}.planning_s"] = sum(r["planning_s"] for r in recs)
        out[f"queries.{fam}.exec_s"] = sum(r["exec_s"] for r in recs)
        for k in ("jobs", "stages", "tasks"):
            out[f"queries.{fam}.{k}"] = sum(r[k] for r in recs)
    return out


def analytics_mix(ctx: Ctx) -> Result:
    res = Result()
    data = os.path.join(ctx.work, "tables")
    with generating(ctx):
        gen.write_tables(gen.analytics_tables(np.random.default_rng(ctx.seed)), data)

    spark, get_spark_s = start_spark("perfbench-analytics")
    client = Client(ctx, spark, data)
    for _ in range(WARM_PASSES):  # JVM, codegen and JIT warm-up
        client.one_pass()
    set_up(ctx, res)

    # a pass (the whole mix, as one report run) is the client's request:
    # per-query times mix three cost levels, so their median jumps
    passes, traced = client.passes(max(3, round(ctx.seconds / NOMINAL_PASS_S)), alternate=ctx.trace)
    pass_ms = float(np.median([1000.0 * p["cpu"] for p in passes]))
    if ctx.trace:
        res.layers.update(_family_layers(traced))
        res.layers["trace.overhead"] = np.median([1000.0 * p["cpu"] for p in traced]) / pass_ms - 1.0
    ref = ctx.meter.ref
    res.e2e.update(
        op_cpu_ms=ref * pass_ms / len(passes[0]["recs"]), batch_cpu_ms=ref * pass_ms, setup_s=ref * ctx.setup_cpu
    )
    pass_s = [p["wall"] for p in passes]
    p50, p99 = quantiles(pass_s)
    res.report.update(
        analytics_pass_s=p50,
        analytics_pass_p99_s=p99,
        control_ms=1000.0 * CONTROL_REF_S / ref,
    )
    for fam in FAMILIES:
        res.report[f"{fam}_s"] = float(
            np.median([sum(r["wall_s"] for r in p["recs"] if r["fam"] == fam) for p in passes])
        )
    res.layers["session.get_spark_s"] = get_spark_s
    stop_spark(spark)

    oracle = _oracle_digests(data, {r["name"] for r in client.runs})
    res.attempted = len(client.runs)
    for r in client.runs:
        res.fail(f"oracle_mismatch.{r['name']}", r["digest"] != oracle[r["name"]])
    return res
