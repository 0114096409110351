"""streaming: the engine's collect→alter→forward→store path, driven
through ``Engine``'s public entry points, then the keyed-state path.

One path: a file-drop text source, then filter (malformed lines to the
reject route) → math → editor → generic, feeding the values store (with
trigger rules), a SQLite sink and a FileCollector. It runs two phases,
as after an outage: replay drops whole backlogs and drains each with
``processAllAvailable`` (closed loop, per-row cost dominates); live then
drops one small file per tick on a fixed schedule and issues ``rv``/``st``
commands beside it (open loop, per-batch cost dominates). Each drop is a
directory renamed into the watched one, so the stream sees it whole.
The gated figures are CPU costs (see ``common.CpuMeter``): per 1000
replayed lines, median over drains (``op_cpu_ms``), and per live batch,
median over ticks (``batch_cpu_ms``); drain rate and live latency are
printed beside them. A traced run adds a third phase (``keyed.py``),
the state-store path, in the same process, which saves a JVM start.

The sinks are wrapped before they are handed to ``Engine.add_sink``:
the SQLite wrapper notes when each write returns (the latency probe, on
in every run); the span wrappers record only in the traced window.
"""

from __future__ import annotations

import os
import sqlite3
import threading
import time

import numpy as np

from perfbench import checks, gen
from perfbench.keyed import keyed_phase
from perfbench.common import (
    CONTROL_REF_S,
    Ctx,
    Result,
    generating,
    phase_sums,
    progress_end,
    quantiles,
    set_up,
    start_spark,
    stop_spark,
)

PATH = {
    "id": "ctd",
    "delimiter": ",",
    "steps": [
        {"type": "filter", "rules": [["start", "$"], ["items", "6"]], "reject": "bad"},
        {"type": "math", "ops": [{"target": "i5", "formula": "i5*0.01-20"}]},
        {"type": "editor", "edits": [{"kind": "remove", "args": {"find": "$"}}]},
        {
            "type": "generic",
            "fields": [
                {"name": "sensor", "index": 0, "dtype": "text"},
                {"name": "kind", "index": 1, "dtype": "text"},
                {"name": "id", "index": 2, "dtype": "long"},
                {"name": "event_us", "index": 3, "dtype": "long"},
                {"name": "due_ms", "index": 4, "dtype": "long"},
                {"name": "reading", "index": 5, "dtype": "real"},
            ],
            "keep": ["value"],
        },
    ],
}
STORE_COLS = {"group": "sensor", "name": "kind", "value": "reading", "ts": "event_us"}
TABLE = "readings"
# (key index, kind, comparison, test): thresholds sit off the 0.01 grid
# of readings so decimal and binary arithmetic cannot disagree on them
RULES = [
    (0, "comparison", "above 29.505", lambda v: v > 29.505),
    (1, "comparison", "below -19.505", lambda v: v < -19.505),
    (2, "changed", None, None),
]
# a trigger interval, so that between batches the source lists its
# directory a few times a second rather than every 10 ms: idle polling
# would otherwise take over a core and make the live phase's CPU cost
# follow how fast the listing runs
TRIGGER_S = 0.25
CHILDREN = {"streaming.values_store.merge", "sinks.db.write", "sinks.file_collector.write"}
ADD_BATCH = "streaming.runner.add_batch"


class Deployment:
    """One engine with the path, rules and wrapped sinks, started. The
    source reads ``pattern`` under its drop directory."""

    def __init__(self, ctx: Ctx, spark, stream: gen.SensorStream, pattern: str):
        from dcafs_spark.engine import Engine
        from dcafs_spark.sinks.db import SqliteSink
        from dcafs_spark.sinks.file_collector import FileCollector
        from dcafs_spark.streaming import runner
        from dcafs_spark.streaming.values_store import TriggerRule

        tracer = ctx.tracer
        self.tracer = tracer
        self.src = os.path.join(ctx.work, "src")
        self.db_path = os.path.join(ctx.work, "sink.db")
        self.fc_dir = os.path.join(ctx.work, "collector")
        os.makedirs(self.src)
        self.engine = engine = Engine(spark)
        for k, kind, comparison, _test in RULES:
            group, name = stream.keys[k]
            engine.add_trigger(TriggerRule(group, name, kind, comparison=comparison))
        engine.add_source("lines", {"kind": "text", "path": os.path.join(self.src, pattern)})
        engine.add_path("ctd", "lines", PATH, store_cols=STORE_COLS)
        self.db = SqliteSink(self.db_path, TABLE)
        self.returns: list[tuple[int, float]] = []  # (max rowid, epoch s) per db write
        db_write = tracer.wrap("sinks.db.write", self.db.foreach_batch())

        def db_sink(df, batch_id):
            db_write(df, batch_id)
            t = time.time()
            self.returns.append((self.max_rowid(), t))

        engine.add_sink("ctd", db_sink)
        fc = FileCollector(self.fc_dir)
        engine.add_sink("ctd", tracer.wrap("sinks.file_collector.write", fc.foreach_batch()))
        engine.store.merge_batch = tracer.wrap(
            "streaming.values_store.merge", engine.store.merge_batch
        )
        if ctx.trace:
            runner.compile_path = tracer.wrap("plans.compile_path", runner.compile_path)
        self.query = engine.start(
            "ctd", checkpoint=os.path.join(ctx.work, "checkpoint"), trigger_seconds=TRIGGER_S
        )

    def max_rowid(self) -> int:
        con = sqlite3.connect(self.db_path)
        try:
            return con.execute(f'SELECT MAX(rowid) FROM "{TABLE}"').fetchone()[0] or 0
        finally:
            con.close()

    def landed(self) -> tuple[np.ndarray, np.ndarray]:
        """(due_ms, epoch s its write returned) of every row in the table."""
        con = sqlite3.connect(self.db_path)
        try:
            rows = np.array(
                con.execute(f'SELECT rowid, due_ms FROM "{TABLE}" ORDER BY rowid').fetchall(),
                dtype=np.int64,
            ).reshape(-1, 2)
        finally:
            con.close()
        tops = np.array([r for r, _t in self.returns])
        when = np.array([t for _r, t in self.returns])
        return rows[:, 1], when[np.searchsorted(tops, rows[:, 0])]

    def counters(self) -> np.ndarray:
        """(trigger fires, collector part files, db rows) so far."""
        return np.array(
            [len(self.engine.store.fired_log), len(checks.part_files(self.fc_dir)), self.max_rowid()]
        )

    def layers(self, segments: list[tuple[float, float, np.ndarray]]) -> dict[str, float]:
        """Per-layer metrics over traced segments, each (start, end, counter
        increase), from the spans and the batches that ended inside them."""
        prog = [
            p for p in self.query.recentProgress
            if p["numInputRows"] and any(t0 < progress_end(p) <= t1 + 0.1 for t0, t1, _c in segments)
        ]
        for p in prog:
            end = progress_end(p) - p["durationMs"].get("commitOffsets", 0) / 1000.0
            self.tracer.add(ADD_BATCH, end - p["durationMs"].get("addBatch", 0) / 1000.0, end)
        self.tracer.adopt(ADD_BATCH, CHILDREN, slack=0.005)
        own = self.tracer.self_times()
        tot = self.tracer.totals()
        ph = phase_sums(prog)
        fired, files, rows = sum(c for _t0, _t1, c in segments)
        return {
            "plans.compile_path_s": tot.get("plans.compile_path", (0, 0.0))[1],
            "streaming.runner.add_batch_s": ph.get("addBatch", 0.0),
            "streaming.runner.latest_offset_s": ph.get("latestOffset", 0.0),
            "streaming.runner.wal_commit_s": ph.get("walCommit", 0.0),
            "streaming.runner.commit_offsets_s": ph.get("commitOffsets", 0.0),
            "streaming.runner.planning_s": ph.get("queryPlanning", 0.0),
            "streaming.runner.batches": len(prog),
            "streaming.runner.other_s": own.get(ADD_BATCH, 0.0),
            "streaming.values_store.merge_s": own.get("streaming.values_store.merge", 0.0),
            "streaming.values_store.keys": len(self.engine.store.state),
            "streaming.values_store.triggers_fired": fired,
            "sinks.db.write_s": own.get("sinks.db.write", 0.0),
            "sinks.db.rows": rows,
            "sinks.db.dead_letter": len(self.db.dead_letter),
            "sinks.file_collector.write_s": own.get("sinks.file_collector.write", 0.0),
            "sinks.file_collector.files": files,
        }

    def check(self, res: Result, stream: gen.SensorStream, blocks: list[gen.LineBlock]) -> None:
        ids = np.concatenate([b.ids for b in blocks])
        good = np.concatenate([b.good for b in blocks])
        key = np.concatenate([b.key for b in blocks])[good]
        event_us = np.concatenate([b.event_us for b in blocks])[good]
        value = gen.reading(np.concatenate([b.raw for b in blocks]))[good]
        checks.check_db(res, self.db_path, TABLE, ids[good], ids[~good])
        res.fail("sinks.db.dead_letter", len(self.db.dead_letter))
        lines = checks.count_lines(self.fc_dir)
        res.fail("sinks.file_collector.line_count", abs(lines - int(good.sum())))
        rules = [(k, kind, test) for k, kind, _c, test in RULES]
        checks.check_values(
            res, self.engine.store.snapshot(), self.engine.store.fired_log,
            stream.keys, key, event_us, value, rules,
        )

    def stop(self) -> None:
        """Stop the path; callers drain first so it stops between batches."""
        self.engine.stop_all()


def _alter_probe(spark, files: str, lines: int) -> tuple[float, int]:
    """The compiled path alone over drain input into a noop sink:
    (rows/s, rejected rows)."""
    from dcafs_spark.plans.dsl import compile_path

    t0 = time.perf_counter()
    main, rejects = compile_path(spark.read.text(files), PATH)
    main.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return lines / dt, rejects["bad"].count()


# -------------------------------------------------------------- streaming

BACKLOG_FILES, FILE_LINES = 6, 8_000  # one replayed backlog: 48k lines in six files
WARM_DRAINS = 4  # full backlogs drained before timing: JVM, codegen and JIT warm-up
# --seconds is shared between replay and live; replay drains a fixed
# number of backlogs, as many as take that share on an unloaded host, so
# that a run's inputs depend on its seed and length only
REPLAY_SHARE, NOMINAL_DRAIN_S = 0.5, 3.0
SPAN_US = 2_000_000  # event time covered by one backlog file
# live: one file per tick. The tick is over twice a micro-batch, so even
# on a contended machine each file gets its own batch: latency then
# follows batch cost instead of jumping between queueing modes.
RATE, TICK_S = 800, 2.5
WARM_TICKS = 1  # the first live batches change batch size; kept out of the figures
LIVE_TICKS = 4  # at least; the last has no next drop to end its CPU sample
CMD_EVERY_S = 0.5
COMMANDS = ("rv", "st")


class Generator(threading.Thread):
    """Drops one file per tick on a fixed schedule, whatever the engine
    does; a line is due at its place in the tick, and its file is written
    when the tick ends. ``cpu`` is read as each file is dropped, so each
    tick's CPU is that of the batch of the file before."""

    def __init__(self, stage: str, src: str, blocks: list[gen.LineBlock], tag: str, cpu):
        super().__init__(daemon=True)
        self.stage, self.src, self.blocks, self.tag, self.cpu = stage, src, blocks, tag, cpu
        self.t_start = time.time()
        self.late: list[float] = []
        self.cpu_at_drop: list[float] = []

    def run(self) -> None:
        for i, blk in enumerate(self.blocks):
            tick = self.t_start + i * TICK_S
            wait = tick + TICK_S - time.time()
            if wait > 0:
                time.sleep(wait)
            self.late.append(max(0.0, time.time() - (tick + TICK_S)))
            name = f"{self.tag}{i:05d}"
            os.makedirs(os.path.join(self.stage, name))
            with open(os.path.join(self.stage, name, "00.txt"), "w") as fh:
                fh.write(blk.text(int(tick * 1000)))
            self.cpu_at_drop.append(self.cpu())
            os.rename(os.path.join(self.stage, name), os.path.join(self.src, name))


def _command_loop(engine, gen_thread: Generator, tracer) -> tuple[int, int, float]:
    """Issue ``rv``/``st`` on a fixed schedule while the generator runs:
    (commands, errors, seconds spent in them)."""
    n = errors = 0
    busy = 0.0
    cmd = tracer.wrap("engine.command", engine.command)
    t_next = time.time()
    while gen_thread.is_alive():
        t_next += CMD_EVERY_S
        t0 = time.perf_counter()
        try:
            reply = cmd(COMMANDS[n % len(COMMANDS)])
            errors += not isinstance(reply, str) or reply.startswith("unknown command")
        except Exception:  # noqa: BLE001 — a failing command is counted, not fatal
            errors += 1
        busy += time.perf_counter() - t0
        n += 1
        time.sleep(max(0.0, t_next - time.time()))
    return n, errors, busy


def _backlog(stream: gen.SensorStream, stage: str, name: str) -> list[gen.LineBlock]:
    """Write one backlog into ``stage/name``, ready to be dropped whole."""
    os.makedirs(os.path.join(stage, name))
    blks = [stream.block(FILE_LINES, SPAN_US) for _ in range(BACKLOG_FILES)]
    for f, blk in enumerate(blks):
        with open(os.path.join(stage, name, f"{f:02d}.txt"), "w") as fh:
            fh.write(blk.text())
    return blks


def streaming(ctx: Ctx) -> Result:
    """Catch up replayed backlogs (closed loop), then follow live traffic
    (open loop), each for about half of ``ctx.seconds``; a traced run then
    runs the keyed-state phase."""
    res = Result()
    stream = gen.SensorStream(np.random.default_rng(ctx.seed))
    stage = os.path.join(ctx.work, "stage")
    with generating(ctx):
        warm = [(f"w{b}", _backlog(stream, stage, f"w{b}")) for b in range(WARM_DRAINS)]

    spark, get_spark_s = start_spark("perfbench-streaming")
    dep = Deployment(ctx, spark, stream, "*")
    dropped: list[gen.LineBlock] = []
    # per drain: drop epoch s, seconds, lines, CPU s, counter increase if traced
    drains: list[tuple[float, float, int, float, np.ndarray | None]] = []

    def drain(name: str, blks: list[gen.LineBlock], traced: bool = False) -> None:
        before = dep.counters() if traced else None
        ctx.tracer.enabled = traced
        ctx.meter.control()
        cpu0 = ctx.meter.cpu()
        t0 = time.time()
        os.rename(os.path.join(stage, name), os.path.join(dep.src, name))  # atomic: one batch
        dep.query.processAllAvailable()
        secs = time.time() - t0
        cpu = ctx.meter.cpu() - cpu0
        ctx.tracer.enabled = False
        dropped.extend(blks)
        lines = len(blks) * FILE_LINES
        drains.append((t0, secs, lines, cpu, None if before is None else dep.counters() - before))

    for name, blks in warm:
        drain(name, blks)
    set_up(ctx, res)

    # replay: drain backlogs back to back, each written just before it is
    # dropped (untimed); a traced run traces them in the order untraced,
    # traced, traced, untraced so both kinds see the same warm-up on average
    n_drains = max(3, round(REPLAY_SHARE * ctx.seconds / NOMINAL_DRAIN_S))
    for i in range(2 * n_drains if ctx.trace else n_drains):
        name = f"b{i:03d}"
        drain(name, _backlog(stream, stage, name), traced=ctx.trace and i % 4 in (1, 2))
    ds = drains[WARM_DRAINS:]
    plain = [d for d in ds if d[4] is None]

    def cpu_ms(some: list[tuple]) -> float:
        """Median CPU ms per 1000 lines over drains."""
        return float(np.median([1e6 * d[3] / d[2] for d in some]))

    # live: one file per tick, rv/st commands beside the writes
    n_ticks = WARM_TICKS + max(LIVE_TICKS, round((1 - REPLAY_SHARE) * ctx.seconds / TICK_S))
    with generating(ctx):
        live = [stream.block(int(RATE * TICK_S), int(TICK_S * 1e6)) for _ in range(n_ticks)]
    before = dep.counters()
    ctx.tracer.enabled = ctx.trace
    ctx.meter.control()
    g = Generator(stage, dep.src, live, "t", ctx.meter.cpu)
    g.start()
    n_cmds, cmd_errors, cmd_s = _command_loop(dep.engine, g, ctx.tracer)
    g.join()
    t_stop = time.time()
    dep.query.processAllAvailable()
    t_done = time.time()
    # CPU between two drops, from the first after the warm ticks: median
    # over those batches
    live_ms = 1000.0 * float(np.median(np.diff(g.cpu_at_drop)[WARM_TICKS:]))
    ctx.tracer.enabled = False
    dropped.extend(live)
    due, ret = dep.landed()
    timed = due >= int((g.t_start + WARM_TICKS * TICK_S) * 1000)  # replayed lines carry due 0
    p50, p99 = quantiles(ret[timed] - due[timed] / 1000.0)
    res.fail("engine.command_errors", cmd_errors)

    if ctx.trace:
        traced = [(d[0], d[0] + d[1], d[4]) for d in ds if d[4] is not None]
        res.layers.update(dep.layers(traced + [(g.t_start, t_done, dep.counters() - before)]))
        res.layers["trace.overhead"] = cpu_ms([d for d in ds if d[4] is not None]) / cpu_ms(plain) - 1.0
        alter_rate, rejected = _alter_probe(
            spark, os.path.join(dep.src, name), BACKLOG_FILES * FILE_LINES
        )
        res.layers.update(
            {
                "operators.alter_rows_per_s": alter_rate,
                "operators.rejected_rows": rejected,
                "engine.command_s": cmd_s,
                "engine.command_errors": cmd_errors,
                "load.generator_late_s": max(g.late),
            }
        )
    ref = ctx.meter.ref
    res.e2e.update(op_cpu_ms=ref * cpu_ms(plain), batch_cpu_ms=ref * live_ms, setup_s=ref * ctx.setup_cpu)
    res.report.update(
        drain_rows_per_s=float(np.median([d[2] / d[1] for d in plain])),
        drains=len(ds),
        control_ms=1000.0 * CONTROL_REF_S / ref,
        ingest_latency_p50_s=p50,
        ingest_latency_p99_s=p99,
        ingest_backlog_s=t_done - t_stop,
        generator_late_max_s=max(g.late),
        latency_samples=int(timed.sum()),
    )
    dep.stop()
    res.attempted = sum(len(b.ids) for b in dropped) + n_cmds
    dep.check(res, stream, dropped)
    if ctx.trace:
        keyed_phase(ctx, spark, res, (1 - REPLAY_SHARE) * ctx.seconds)
    res.layers["session.get_spark_s"] = get_spark_s
    stop_spark(spark)
    return res
