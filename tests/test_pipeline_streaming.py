"""End-to-end tests: pipeline DSL, streaming runner + values store +
trigger hysteresis, file collector, sqlite sink, replay source,
scheduler, waypoints."""

from __future__ import annotations

import glob
import os
import sqlite3
import time
from datetime import date, datetime, timezone
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from dcafs_spark.operators.waypoint import StreamingGeofence, Waypoint, nearest_waypoint, waypoint_events
from dcafs_spark.plans import compile_path
from dcafs_spark.scheduler import Check, Task, TaskManager, TaskSet, next_clock_fire, render_template
from dcafs_spark.sinks import FileCollector, SqliteSink, ddl_for
from dcafs_spark.sinks.file_collector import decimate
from dcafs_spark.sources import read_lines, replay_files
from dcafs_spark.streaming import StreamingPath, TriggerRule, ValuesStore


CTD_PATH = {
    "id": "ctd",
    "delimiter": ",",
    "steps": [
        {"type": "filter", "rules": [["start", "$CTD"], ["minitems", "6"]], "reject": "bad"},
        {"type": "math", "ops": [{"target": "i2", "formula": "i2*1000", "scale": 1}], "typed": False},
        {
            "type": "generic",
            "fields": [
                {"name": "station", "index": 0, "dtype": "text"},
                {"name": "temp", "index": 2, "dtype": "real"},
                {"name": "sal", "index": 3, "dtype": "real"},
                {"name": "press", "index": 4, "dtype": "real"},
            ],
            "keep": ["origin", "event_id"],
        },
    ],
}


# streaming sources carry (value, origin, ts) — no event_id column
STREAM_CTD_PATH = {
    **CTD_PATH,
    "steps": CTD_PATH["steps"][:-1] + [{**CTD_PATH["steps"][-1], "keep": ["origin", "ts"]}],
}


class TestPipelineDSL:
    def test_path_end_to_end(self, spark, lines_df):
        main, rejects = compile_path(lines_df, CTD_PATH)
        rows = {r["event_id"]: r for r in main.collect()}
        # rows 1,2 parse fully; 3 has empty temp→null; 4 bad number→null
        assert rows[1]["temp"] == pytest.approx(12941.0)
        assert rows[1]["sal"] == pytest.approx(38.45)
        assert rows[3]["temp"] is None
        assert rows[4]["temp"] is None
        # 5 (too few fields), 6 (GPS), 7 (noise) rejected
        assert set(rows) == {1, 2, 3, 4}
        rej = {r["event_id"] for r in rejects["bad"].collect()}
        assert rej == {5, 6, 7}

    def test_math_step_scale(self, spark, lines_df):
        main, _ = compile_path(
            lines_df,
            {
                "delimiter": ",",
                "steps": [
                    {"type": "filter", "rules": [["start", "$CTD"], ["minitems", "6"]]},
                    {"type": "math", "ops": [{"target": "i2", "formula": "i2*2", "scale": 0}]},
                ],
            },
        )
        first = main.orderBy("event_id").first()["value"]
        assert first.split(",")[2] == "26"  # 12.941*2 rounded → 26


class TestValuesStore:
    def _feed(self, spark, store, values, ts0=0):
        rows = [("ctd", "temp", float(v), ts0 + i) for i, v in enumerate(values)]
        df = spark.createDataFrame(rows, "group string, name string, value double, ts long")
        store.merge_batch(df)

    def test_running_aggregates(self, spark):
        store = ValuesStore(history_n=3)
        self._feed(spark, store, [10.0, 20.0])
        self._feed(spark, store, [5.0, 30.0], ts0=2)
        snap = store.snapshot()[0]
        assert snap["last_value"] == 30.0
        assert snap["min_value"] == 5.0
        assert snap["max_value"] == 30.0
        assert snap["n_updates"] == 4
        assert snap["hist_avg"] == pytest.approx(round((20.0 + 5.0 + 30.0) / 3, 3))

    def test_stdev_nan_until_full(self, spark):
        store = ValuesStore(history_n=3)
        self._feed(spark, store, [1.0, 2.0])
        assert store.snapshot()[0]["hist_stdev"] is None  # window not full
        self._feed(spark, store, [3.0], ts0=5)
        assert store.snapshot()[0]["hist_stdev"] == pytest.approx(1.0)

    def test_trigger_hysteresis(self, spark):
        store = ValuesStore()
        fired = []
        store.add_rule(
            TriggerRule("ctd", "temp", "comparison", comparison="above 25",
                        cmd=lambda g, n, v: fired.append(v))
        )
        for batch in ([10.0], [30.0], [35.0], [20.0], [40.0]):
            self._feed(spark, store, batch)
        # fires at 30 (crossing), NOT at 35 (still high), re-arms at 20,
        # fires again at 40  (RealVal.java:527-531 semantics)
        assert fired == [30.0, 40.0]

    def test_changed_trigger(self, spark):
        store = ValuesStore()
        fired = []
        store.add_rule(TriggerRule("ctd", "temp", "changed", cmd=lambda g, n, v: fired.append(v)))
        for batch in ([1.0], [1.0], [2.0]):
            self._feed(spark, store, batch)
        assert fired == [1.0, 2.0]  # first sight + actual change

    def test_within_batch_crossing_fires(self, spark):
        """Per-record trigger parity (RealVal.java:464-533): a value
        that crosses the threshold and returns WITHIN one batch still
        fires, and the rule re-arms in the same batch."""
        store = ValuesStore()
        fired = []
        store.add_rule(
            TriggerRule("ctd", "temp", "comparison", comparison="above 25",
                        cmd=lambda g, n, v: fired.append(v))
        )
        # one batch: cross up (30), come back (10), cross up again (40)
        self._feed(spark, store, [10.0, 30.0, 10.0, 40.0])
        assert fired == [30.0, 40.0]

    def test_10k_keys_bounded_driver_state(self, spark):
        """Driver work is O(#keys): 10k keys x 4 rows reduce to one
        delta row per key; the max_keys guard trips past the bound."""
        rows = [
            (f"g{k % 100}", f"n{k}", float(i), k * 10 + i)
            for k in range(10_000)
            for i in range(4)
        ]
        df = spark.createDataFrame(rows, "group string, name string, value double, ts long")
        store = ValuesStore(history_n=3)
        store.merge_batch(df)
        assert len(store.state) == 10_000
        st = store.state[("g1", "n1")]
        assert st.count == 4 and st.last == 3.0 and st.history == [1.0, 2.0, 3.0]
        tight = ValuesStore(max_keys=100)
        with pytest.raises(RuntimeError, match="max_keys"):
            tight.merge_batch(df)

    def test_geofence_driver_collects_only_boundaries(self, spark):
        """StreamingGeofence reaches the driver with transitions +
        one boundary row per key — correctness on a dense batch."""
        from dcafs_spark.operators.waypoint import StreamingGeofence, Waypoint

        # track inside→outside→inside across two batches
        def pos(ts, lat):
            return ("t1", lat, 3.0, float(ts))

        schema = "track_id string, lat double, lon double, ts double"
        g = StreamingGeofence([Waypoint("wp", 51.0, 3.0, 25.0)])
        b1 = spark.createDataFrame([pos(1, 51.0), pos(2, 55.0)], schema)  # in → out
        b2 = spark.createDataFrame([pos(3, 55.0), pos(4, 51.0)], schema)  # out, back in
        g.process_batch(b1, track="track_id", ts="ts")
        g.process_batch(b2, track="track_id", ts="ts")
        kinds = [(e[3], e[2]) for e in g.events]
        assert kinds == [("LEAVE", 2.0), ("ENTER", 4.0)]
        assert g.state[("t1", "wp")] is True

    def test_geofence_chattering_fence_bounded(self, spark):
        """A noisy GPS chattering across the fence every fix must NOT
        collect unboundedly: the per-batch cap keeps the earliest
        transitions and counts the dropped remainder in `overflow`."""
        from dcafs_spark.operators.waypoint import StreamingGeofence, Waypoint

        schema = "track_id string, lat double, lon double, ts double"
        # alternate inside (51.0) / outside (55.0) → a transition on
        # every fix after the first: 199 transitions in one batch
        rows = [("t1", 51.0 if i % 2 == 0 else 55.0, 3.0, float(i)) for i in range(200)]
        g = StreamingGeofence(
            [Waypoint("wp", 51.0, 3.0, 25.0)], max_transitions_per_batch=50
        )
        g.process_batch(spark.createDataFrame(rows, schema), track="track_id", ts="ts")
        # cap held: 50 collected transitions (earliest), 149 counted out
        trans_events = [e for e in g.events]
        assert len(trans_events) == 50
        assert g.overflow == 149
        # earliest-first: the kept transitions are ts 1..50
        assert [e[2] for e in trans_events] == [float(i) for i in range(1, 51)]
        # event-log eviction bound
        tight = StreamingGeofence(
            [Waypoint("wp", 51.0, 3.0, 25.0)],
            max_transitions_per_batch=50,
            max_events=10,
        )
        tight.process_batch(
            spark.createDataFrame(rows, schema), track="track_id", ts="ts"
        )
        assert len(tight.events) == 10 and tight.evicted == 40


class TestStreamingPath:
    def test_file_stream_to_store_and_sink(self, spark, tmp_path):
        watch = tmp_path / "watch"
        out: list = []
        raw = tmp_path / "raw.log"
        raw.write_text("".join(f"$CTD01,16:25:1{i},{12 + i}.5,38.4,1017,8\n" for i in range(6)))
        n_chunks = replay_files([str(raw)], str(watch), chunk_lines=3)
        assert n_chunks == 2

        store = ValuesStore(history_n=4)
        sp = StreamingPath(
            spark,
            source={"kind": "text", "path": str(watch), "maxFilesPerTrigger": 1},
            path=STREAM_CTD_PATH,
            store=store,
            # order state by the monotone temp channel: file-source ingest
            # timestamps tie within a micro-batch
            store_cols={"group": "origin", "name": "station", "value": "temp", "ts": "temp"},
            sinks=[lambda df, bid: out.extend(df.collect())],
        )
        q = sp.start("t_ctd")
        try:
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline and len(out) < 6:
                q.processAllAvailable()
                time.sleep(0.2)
        finally:
            q.stop()
        assert len(out) == 6
        snap = store.snapshot()
        assert snap[0]["n_updates"] == 6
        assert snap[0]["last_value"] == pytest.approx(17500.0)  # i2*1000 math step
        assert snap[0]["min_value"] == pytest.approx(12500.0)

    def test_streaming_path_rejects(self, spark, tmp_path):
        watch = tmp_path / "watch2"
        os.makedirs(watch)
        (watch / "a.txt").write_text("$CTD01,1,2,3,4,5\nnoise\n")
        good: list = []
        bad: list = []
        sp = StreamingPath(
            spark,
            source={"kind": "text", "path": str(watch)},
            path=STREAM_CTD_PATH,
            sinks=[lambda df, bid: good.extend(df.collect())],
            reject_sinks={"bad": lambda df, bid: bad.extend(df.collect())},
        )
        q = sp.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(good) == 1 and len(bad) == 1


class TestFileCollector:
    def test_rollover_partitions_and_decimation(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"line{i}", datetime(2026, 8, 13, 14 + (i // 4), i % 60, tzinfo=timezone.utc)) for i in range(8)],
            "value string, ts timestamp",
        )
        fc = FileCollector(str(tmp_path / "roll"), rollover="hour", header="#header")
        fc.write_batch(df)
        parts = sorted(os.path.basename(p) for p in glob.glob(str(tmp_path / "roll" / "rollover=*")))
        assert parts == ["rollover=2026-08-13T14.00", "rollover=2026-08-13T15.00"]
        assert (tmp_path / "roll" / "_header").read_text().strip() == "#header"

    def test_decimate(self, spark):
        df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "ts int, value string")
        kept = decimate(df, skipcount=4, order_col="ts").collect()
        assert sorted(r["ts"] for r in kept) == [0, 5]  # write 1, skip 4

    def test_zip_rollover_writes_gzip_parts(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"line{i}", datetime(2026, 8, 13, 14, i, tzinfo=timezone.utc)) for i in range(4)],
            "value string, ts timestamp",
        )
        fc = FileCollector(str(tmp_path / "z"), rollover="hour", zip_rollover=True)
        fc.write_batch(df)
        import gzip

        gz = glob.glob(str(tmp_path / "z" / "rollover=*" / "part-*.gz"))
        assert gz, "expected gzip part files"
        lines = sorted(
            line for p in gz for line in gzip.open(p, "rt").read().splitlines()
        )
        assert lines == [f"line{i}" for i in range(4)]

    def test_max_records_per_file_splits(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"r{i}", datetime(2026, 8, 13, 14, 0, tzinfo=timezone.utc)) for i in range(10)],
            "value string, ts timestamp",
        ).coalesce(1)
        fc = FileCollector(str(tmp_path / "s"), max_records_per_file=3)
        fc.write_batch(df)
        parts = [p for p in glob.glob(str(tmp_path / "s" / "part-*")) if not p.endswith(".crc")]
        assert len(parts) >= 4  # 10 rows / 3-per-file
        total = sum(len(open(p).read().splitlines()) for p in parts)
        assert total == 10

    def test_streaming_sink(self, spark, tmp_path):
        watch = tmp_path / "w"
        os.makedirs(watch)
        (watch / "x.txt").write_text("a\nb\n")
        fc = FileCollector(str(tmp_path / "out"), fmt="text", ts_col="ts")
        sp = StreamingPath(
            spark,
            source={"kind": "text", "path": str(watch)},
            path={"steps": []},
            sinks=[fc.foreach_batch()],
        )
        q = sp.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        data = sorted(
            line
            for p in glob.glob(str(tmp_path / "out" / "part-*"))
            for line in open(p).read().splitlines()
        )
        assert data == ["a", "b"]


class TestDbSinks:
    def test_sqlite_roundtrip_and_ddl(self, spark, tmp_path):
        db = str(tmp_path / "t.db")
        df = spark.createDataFrame([(1, "a", 2.5), (2, "b", 3.5)], "id int, name string, v double")
        assert ddl_for(df, "t", "sqlite") == 'CREATE TABLE IF NOT EXISTS "t" ("id" INTEGER, "name" TEXT, "v" REAL)'
        assert "DOUBLE PRECISION" in ddl_for(df, "t", "postgres")
        sink = SqliteSink(db, "t")
        n = sink.write_batch(df)
        assert n == 2
        con = sqlite3.connect(db)
        assert con.execute("SELECT count(*), sum(v) FROM t").fetchone() == (2, 6.0)
        con.close()

    def test_dialect_ddl_maps(self, spark):
        """The five reference dialects (SQLDB.java:84-95) + quoting."""
        df = spark.createDataFrame(
            [(1, "a", 2.5, True, datetime(2026, 1, 1, tzinfo=timezone.utc), 7, Decimal("1.25"))],
            "id int, name string, v double, ok boolean, at timestamp, tiny tinyint, dec decimal(10,2)",
        )
        my = ddl_for(df, "order", "mysql")
        assert my.startswith("CREATE TABLE IF NOT EXISTS `order`")
        assert "`v` DOUBLE" in my and "`ok` TINYINT(1)" in my and "`at` DATETIME(6)" in my
        assert "`tiny` TINYINT," in my and "`dec` DECIMAL(10,2)" in my
        pg = ddl_for(df, "t", "postgresql")
        assert '"at" TIMESTAMPTZ' in pg and '"name" TEXT' in pg
        assert '"tiny" SMALLINT' in pg and '"dec" NUMERIC(10,2)' in pg
        sv = ddl_for(df, "t", "server")
        assert '"tiny" SMALLINT' in sv and '"dec" NUMERIC(10,2)' in sv
        ms = ddl_for(df, "t", "mssql")
        assert ms.startswith("IF OBJECT_ID(N't', N'U') IS NULL CREATE TABLE [t]")
        assert "[v] FLOAT" in ms and "[ok] BIT" in ms and "[name] NVARCHAR(MAX)" in ms
        assert "[tiny] SMALLINT" in ms and "[dec] DECIMAL(10,2)" in ms
        assert ddl_for(df, "t", "mariadb") == ddl_for(df, "t", "mysql")
        lite = ddl_for(df, "t", "sqlite")
        assert '"tiny" INTEGER' in lite and '"dec" REAL' in lite
        # the existence guard is a string literal: a quote in the name is doubled
        assert ddl_for(df, "o'brien", "mssql").startswith(
            "IF OBJECT_ID(N'o''brien', N'U') IS NULL CREATE TABLE [o'brien]"
        )

    def test_upsert_quotes_identifiers(self, spark, tmp_path):
        """Key and value columns whose names hold a double quote: the
        ON CONFLICT clause must escape them like the INSERT does, or
        every row is a syntax error in the dead letter."""
        db = str(tmp_path / "q.db")
        sink = SqliteSink(db, 'my"t', key_cols=['k"ey'])
        cols = 'k"ey', 'v"al'
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).toDF(*cols)
        df2 = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]).toDF(*cols)
        assert sink.write_batch(df1) == 2
        assert sink.write_batch(df2) == 2
        assert sink.dead_letter == []
        con = sqlite3.connect(db)
        rows = con.execute('SELECT * FROM "my""t" ORDER BY 1').fetchall()
        con.close()
        assert rows == [(1, "a"), (2, "B"), (3, "c")]

    def test_sqlite_every_adapted_type(self, spark, tmp_path):
        """Each type `_adapt` rewrites plus an all-NULL row, from a
        2-partition frame: stored values, their SQLite storage classes
        and the dead-letter tuples are those of `_adapt` over the Rows a
        row-wise collect gives."""
        from dcafs_spark.sinks.db import _adapt

        # a naive timestamp is local time both ways, so the stored text
        # does not depend on the host's time zone; 2**53 + 1 has no
        # exact double, so a bigint must not pass through float
        full = (1, 7, -2, 2**53 + 1, 0.5, 2.25, "a", b"\x01\x02", Decimal("1.25"),
                datetime(2026, 1, 2, 3, 4, 5, 123456), datetime(2026, 1, 2, 3, 4, 5),
                date(2026, 1, 2), True, [1, 2], {"k": 1.5})
        schema = (
            "id int, tiny tinyint, small smallint, big bigint, f float, d double, s string, b binary, "
            "dec decimal(10,2), at timestamp, ntz timestamp_ntz, day date, ok boolean, "
            "arr array<int>, m map<string,double>"
        )
        df = spark.createDataFrame(spark.sparkContext.parallelize([full, (None,) * 15], 2), schema)
        assert df.rdd.getNumPartitions() == 2
        db = str(tmp_path / "types.db")
        sink = SqliteSink(db, "t")
        assert sink.write_batch(df) == 2
        con = sqlite3.connect(db)
        typeof = ", ".join(f'typeof("{c}")' for c in df.columns)
        got = con.execute(f"SELECT *, {typeof} FROM t ORDER BY id").fetchall()
        con.close()
        assert got == [
            (None,) * 15 + ("null",) * 15,
            (1, 7, -2, 2**53 + 1, 0.5, 2.25, "a", b"\x01\x02", 1.25, "2026-01-02 03:04:05.123456",
             "2026-01-02 03:04:05", "2026-01-02", 1, "[1, 2]", "{'k': 1.5}",
             "integer", "integer", "integer", "integer", "real", "real", "text", "blob", "real",
             "text", "text", "text", "integer", "text", "text"),
        ]
        row_path = [tuple(_adapt(v) for v in r) for r in df.collect() if r.id == 1]
        assert [got[1][:15]] == row_path
        # a conflicting replay dead-letters the keyed row as `_adapt` gives
        # it; the NULL-keyed row never conflicts under UNIQUE
        db2 = str(tmp_path / "types_unique.db")
        con = sqlite3.connect(db2)
        con.execute(ddl_for(df, "t", "sqlite", unique_cols=["id"]))
        con.commit()
        con.close()
        sink2 = SqliteSink(db2, "t", create=False)
        assert sink2.write_batch(df) == 2
        assert sink2.write_batch(df) == 1
        assert sink2.dead_letter == row_path

    @staticmethod
    def _descending(spark, n):
        # frame order is descending id, so sorting cannot pass for it
        return spark.range(0, n, 1, 3).selectExpr(f"{n - 1} - id AS id", "concat('v', id) AS body")

    def test_sqlite_one_job_frame_order(self, spark, tmp_path, monkeypatch):
        """More than one flush of rows in 3 partitions: one Spark job
        pulls the whole batch, flushes are 10k rows as before, and rows
        land in frame order."""
        sc = spark.sparkContext
        df = self._descending(spark, 25000)
        assert df.rdd.getNumPartitions() == 3
        sizes = []
        real_flush = SqliteSink._flush

        def counting_flush(self, cur, insert, rows):
            sizes.append(len(rows))
            return real_flush(self, cur, insert, rows)

        monkeypatch.setattr(SqliteSink, "_flush", counting_flush)
        db = str(tmp_path / "big.db")
        sc.setJobGroup("sqlite_sink_write", "sqlite_sink_write")
        try:
            n = SqliteSink(db, "t").write_batch(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("sqlite_sink_write")) == 1
        assert n == 25000 and sizes == [10000, 10000, 5000]
        con = sqlite3.connect(db)
        ids = [r[0] for r in con.execute("SELECT id FROM t ORDER BY rowid")]
        con.close()
        assert ids == list(range(24999, -1, -1))

    def test_sqlite_dead_letter_in_second_chunk(self, spark, tmp_path):
        db = str(tmp_path / "dl.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, body TEXT)")
        con.execute("INSERT INTO t VALUES (12345, 'kept')")
        con.commit()
        con.close()
        sink = SqliteSink(db, "t", create=False)
        # frame position 12654 of 25000: the second 10k chunk
        assert sink.write_batch(self._descending(spark, 25000)) == 24999
        assert sink.dead_letter == [(12345, "v12654")]
        con = sqlite3.connect(db)
        assert con.execute("SELECT count(*) FROM t").fetchone() == (25000,)
        assert con.execute("SELECT body FROM t WHERE id = 12345").fetchone() == ("kept",)
        con.close()

    def test_sqlite_dead_letter(self, spark, tmp_path):
        db = str(tmp_path / "t2.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v REAL)")
        con.execute("INSERT INTO t VALUES (2, 0.0)")
        con.commit()
        con.close()
        df = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "id int, v double")
        sink = SqliteSink(db, "t", create=False)
        n = sink.write_batch(df)
        assert n == 2  # id=2 conflicts
        assert sink.dead_letter == [(2, 2.0)]


class TestReplaySource:
    def test_read_lines_with_timestamps(self, spark, tmp_path):
        p = tmp_path / "raw.log"
        p.write_text("2026-08-13T10:00:00\t$CTD,1,2\nbare line\n")
        df = read_lines(spark, str(p), origin="replay")
        rows = {r["value"]: r for r in df.collect()}
        assert rows["$CTD,1,2"]["ts"].isoformat().startswith("2026-08-13T10:00")
        assert "bare line" in rows

    def test_read_lines_failed_parse_keeps_whole_payload(self, spark, tmp_path):
        """A line matching the ts-prefix regex whose FULL to_timestamp
        parse fails is bare for ts AND bare for value — the malformed
        first field must not be truncated away (round-11 review)."""
        p = tmp_path / "raw.log"
        bad = "2024-01-02T03:04:05garbage\tpayload,1,2"
        p.write_text(bad + "\n2026-08-13T10:00:00\tgood,3\n")
        rows = {r["value"]: r for r in read_lines(spark, str(p)).collect()}
        assert bad in rows  # whole line survives, tab and all
        assert rows["good,3"]["ts"].isoformat().startswith("2026-08-13T10:00")


class TestScheduler:
    def test_check_gates_and_retry(self):
        store = ValuesStore()
        from dcafs_spark.streaming.values_store import _KeyState

        st = _KeyState()
        st.last = 10.0
        store.state[("ctd", "temp")] = st
        tm = TaskManager(store, tick_s=0.01)
        done = []
        t = Task("t1", action=done.append, value="temp={r:ctd_temp}",
                 check=Check("ctd", "temp", "above 5"))
        tm.add_task(t)
        assert tm.fire(t)
        assert done == ["temp=10"]
        t2 = Task("t2", action=done.append, value="x", check=Check("ctd", "temp", "above 50"))
        assert not tm.fire(t2)

    def test_taskset_step_failure_link(self):
        store = ValuesStore()
        from dcafs_spark.streaming.values_store import _KeyState

        st = _KeyState()
        st.last = 1.0
        store.state[("g", "v")] = st
        tm = TaskManager(store, tick_s=0.01)
        ran = []
        ok_task = Task("ok", action=lambda s: ran.append("ok"))
        failing = Task("fail", action=lambda s: ran.append("never"), check=Check("g", "v", "above 5"))
        after = Task("after", action=lambda s: ran.append("after"))
        cleanup = Task("cleanup", action=lambda s: ran.append("cleanup"))
        tm.add_taskset(TaskSet("main", "step", [ok_task, failing, after], failure_set="onfail"))
        tm.add_taskset(TaskSet("onfail", "oneshot", [cleanup]))
        assert not tm.run_taskset("main")
        assert ran == ["ok", "cleanup"]  # stopped at failure, ran failure set

    def test_interval_task_fires(self):
        tm = TaskManager(tick_s=0.02)
        hits = []
        tm.add_task(Task("i", action=hits.append, value="tick", trigger="interval", interval_s=0.05))
        tm.start()
        time.sleep(0.4)
        tm.stop()
        assert len(hits) >= 3

    def test_keyword_trigger(self):
        tm = TaskManager(tick_s=0.01)
        hits = []
        tm.add_task(Task("k", action=hits.append, value="alert", trigger="keyword", keyword="ERROR"))
        assert tm.on_keyword("2026 ERROR something") == 1
        assert tm.on_keyword("all fine") == 0
        assert hits == ["alert"]

    def test_render_template_utc(self):
        out = render_template("at {utc:%Y}", None, now=datetime(2026, 8, 13, tzinfo=timezone.utc))
        assert out == "at 2026"

    @staticmethod
    def _store_with(group, name, value):
        from dcafs_spark.streaming.values_store import _KeyState

        store = ValuesStore()
        st = _KeyState()
        st.last = value
        store.state[(group, name)] = st
        return store, st

    def test_while_gate_advances_after_n_passes(self):
        # while:·,3 — check passes 3x at interval, set advances
        store, _st = self._store_with("g", "v", 10.0)
        tm = TaskManager(store, tick_s=0.005)
        ran = []
        gate = Task("w", action=lambda s: ran.append("never"), trigger="while",
                    interval_s=0.005, runs=3, check=Check("g", "v", "above 5"))
        tm.add_taskset(TaskSet("m", "step", [gate, Task("after", action=lambda s: ran.append("after"))]))
        assert tm.run_taskset("m") is True
        # the gate itself executes no output; only the follow-up task ran
        assert ran == ["after"]
        assert [e for e in tm.log if e[0] == "w"].count(("w", "gate_pass")) == 3
        assert ("w", "gate_done") in tm.log

    def test_while_gate_failure_cancels_set(self):
        # a failing check mid-while cancels the step set → failure set
        store, st = self._store_with("g", "v", 10.0)
        tm = TaskManager(store, tick_s=0.005)
        ran = []
        passes = {"n": 0}

        def flip_after_two(*_a):
            # drop the value below the threshold after the 2nd poll
            passes["n"] += 1
            if passes["n"] == 2:
                st.last = 1.0

        orig = Check.passes
        try:
            Check.passes = lambda self, s: (flip_after_two(), orig(self, s))[1]
            gate = Task("w", action=lambda s: None, trigger="while",
                        interval_s=0.005, runs=5, check=Check("g", "v", "above 5"))
            tm.add_taskset(TaskSet("m", "step", [gate, Task("after", action=lambda s: ran.append("after"))],
                                   failure_set="fs"))
            tm.add_taskset(TaskSet("fs", "oneshot", [Task("cl", action=lambda s: ran.append("cleanup"))]))
            assert tm.run_taskset("m") is False
        finally:
            Check.passes = orig
        assert ran == ["cleanup"]
        assert ("w", "gate_failed") in tm.log

    def test_waitfor_resets_streak_and_completes(self):
        # waitfor:·,2 — failures reset the consecutive-pass counter
        # (TaskManager.java:515-517), then 2 passes in a row advance
        store, st = self._store_with("g", "v", 1.0)  # starts failing
        tm = TaskManager(store, tick_s=0.005)
        ran = []
        polls = {"n": 0}

        def rising(*_a):
            polls["n"] += 1
            if polls["n"] == 3:
                st.last = 10.0  # comes good on the 3rd poll

        orig = Check.passes
        try:
            Check.passes = lambda self, s: (rising(self), orig(self, s))[1]
            gate = Task("wf", action=lambda s: None, trigger="waitfor",
                        interval_s=0.005, runs=2, check=Check("g", "v", "above 5"))
            tm.add_taskset(TaskSet("m", "step", [gate, Task("after", action=lambda s: ran.append("after"))]))
            assert tm.run_taskset("m") is True
        finally:
            Check.passes = orig
        assert ran == ["after"]
        assert ("wf", "gate_reset") in tm.log  # early failing polls reset, not cancel
        assert ("wf", "gate_done") in tm.log

    def test_waitfor_timeout_bounds_polling(self):
        store, _st = self._store_with("g", "v", 1.0)  # never passes
        tm = TaskManager(store, tick_s=0.001)
        tm.max_gate_wait_s = 0.05
        gate = Task("wf", action=lambda s: None, trigger="waitfor",
                    interval_s=0.001, runs=1, check=Check("g", "v", "above 5"))
        tm.add_taskset(TaskSet("m", "step", [gate]))
        assert tm.run_taskset("m") is False
        assert ("wf", "gate_timeout") in tm.log

    def test_parse_trigger_grammar(self):
        from dcafs_spark.scheduler import parse_period_s, parse_trigger

        assert parse_period_s("5m3s") == 303.0
        assert parse_period_s("250ms") == 0.25
        assert parse_period_s("1h") == 3600.0
        assert parse_trigger("while:10s,2") == {"trigger": "while", "interval_s": 10.0, "runs": 2}
        assert parse_trigger("waitfor:500ms") == {"trigger": "waitfor", "interval_s": 0.5, "runs": 1}
        assert parse_trigger("retry:10s,5") == {"trigger": "execute", "interval_s": 10.0, "retries": 5}
        assert parse_trigger("time:07:15,thursday") == {"trigger": "clock", "clock": "07:15", "days": "thursday"}
        assert parse_trigger("delay:5m3s") == {"trigger": "delay", "initial_delay_s": 303.0}
        assert parse_trigger("interval:10s,5m") == {
            "trigger": "interval", "initial_delay_s": 10.0, "interval_s": 300.0}
        iv = parse_trigger("interval:2s")
        assert iv["interval_s"] == 2.0 and iv["initial_delay_s"] == 2.0  # first run not at t=0
        assert parse_trigger("armed") == {"trigger": "keyword", "keyword": "armed"}

    def test_next_clock_fire_weekday(self):
        now = datetime(2026, 8, 13, 12, 0, tzinfo=timezone.utc)  # a Thursday
        nxt = next_clock_fire("09:30", "mo,fr", now)
        assert nxt.weekday() == 4 and nxt.hour == 9  # Friday 09:30


class TestWaypoints:
    WPS = [Waypoint("harbor", 51.0, 3.0, 5.0), Waypoint("buoy", 51.5, 3.5, 1.0)]

    def test_enter_leave_events(self, spark):
        # track passes into and out of the harbor circle
        rows = [
            ("v1", 1, 50.80, 3.0),  # ~22 km away: outside
            ("v1", 2, 50.98, 3.0),  # ~2 km: inside → ENTER
            ("v1", 3, 51.01, 3.0),  # still inside (no event)
            ("v1", 4, 50.80, 3.0),  # back out → LEAVE
        ]
        df = spark.createDataFrame(rows, "track_id string, ts int, lat double, lon double")
        ev = waypoint_events(df, self.WPS)
        harbor = {r["ts"]: r["event"] for r in ev.filter(F.col("wp_id") == "harbor").collect()}
        assert harbor == {1: None, 2: "ENTER", 3: None, 4: "LEAVE"}

    def test_nearest(self, spark):
        df = spark.createDataFrame([("v1", 1, 51.49, 3.5)], "track_id string, ts int, lat double, lon double")
        row = nearest_waypoint(df, self.WPS).first()
        assert row["nearest_wp"] == "buoy"
        assert row["nearest_dist_km"] < 2.0

    def test_streaming_geofence_cross_batch(self, spark):
        gf = StreamingGeofence([Waypoint("harbor", 51.0, 3.0, 5.0)])
        b1 = spark.createDataFrame(
            [("v1", 1, 50.80, 3.0)], "track_id string, ts int, lat double, lon double"
        )
        b2 = spark.createDataFrame(
            [("v1", 2, 50.99, 3.0)], "track_id string, ts int, lat double, lon double"
        )
        gf.process_batch(b1)
        gf.process_batch(b2)  # transition spans the batch boundary
        assert [(e[0], e[1], e[3]) for e in gf.events] == [("v1", "harbor", "ENTER")]


class TestIgnoresAndIssues:
    def test_filter_ignores_semantics(self, spark):
        from dcafs_spark.operators.filter_forward import FilterForward

        # pass rows start with OK; ignores=2 lets 2 failures through
        # after each pass, then rejects until the next pass
        rows = [
            (1, "BAD"), (2, "OK a"), (3, "BAD"), (4, "BAD"), (5, "BAD"),
            (6, "OK b"), (7, "BAD"), (8, "OK c"),
        ]
        df = spark.createDataFrame(rows, "ts int, value string")
        ff = FilterForward(rules=[("start", "OK")])
        kept = sorted(r["ts"] for r in ff.apply_with_ignores(df, ignores=2, order_col="ts").collect())
        # 1: no prior pass -> drop; 2: pass; 3,4: ignored failures; 5: 3rd
        # failure -> drop; 6: pass; 7: ignored; 8: pass
        assert kept == [2, 3, 4, 6, 7, 8]

    def test_issue_pool_raise_resolve_cycle(self, spark):
        from dcafs_spark.issues import IssuePool
        from dcafs_spark.streaming import ValuesStore

        clock = iter(range(100)).__next__
        pool = IssuePool(clock=lambda: float(clock()))
        store = ValuesStore()
        pool.attach(store, "overtemp", "ctd", "temp", "above 30")

        def feed(v):
            df = spark.createDataFrame(
                [("ctd", "temp", float(v), 0)], "group string, name string, value double, ts long"
            )
            store.merge_batch(df)

        for v in (10, 35, 40, 20, 50):
            feed(v)
        iss = pool.issues["overtemp"]
        # 10: idle; 35: raise; 40: active (no double-raise); 20: resolve;
        # 50: raise again
        assert iss.active
        assert iss.count == 2


class TestRound10SchedulerReviewFixes:
    """Review findings reproduced then fixed: action-failure handling,
    retry pacing, localtime clocks, period whitespace."""

    def test_action_failure_runs_failure_set(self):
        from dcafs_spark.scheduler import Task, TaskManager, TaskSet

        tm = TaskManager(tick_s=0.01)
        ran: list[str] = []
        tm.add_taskset(
            TaskSet(
                "main",
                "step",
                [
                    Task("send", action=lambda t: False, value="x"),  # transport drop
                    Task("after", action=lambda t: ran.append("after")),
                ],
                failure_set="fallback",
            )
        )
        tm.add_taskset(
            TaskSet("fallback", "oneshot", [Task("fb", action=lambda t: ran.append("fb"))])
        )
        assert tm.run_taskset("main") is False
        assert ran == ["fb"]  # failure set ran, later steps did not
        assert ("send", "action_failed") in tm.log

    def test_retry_waits_configured_interval(self):
        import time as _t

        from dcafs_spark.scheduler import Check, Task, TaskManager, parse_trigger

        tm = TaskManager(tick_s=0.001)
        kw = parse_trigger("retry:100ms,3")
        assert kw == {"trigger": "execute", "interval_s": 0.1, "retries": 3}
        t = Task("r", action=lambda s: None, check=Check("g", "v", "above 10"), **kw)
        t0 = _t.monotonic()
        assert tm.fire(t) is False  # value never arrives
        waited = _t.monotonic() - t0
        assert waited >= 0.3  # 3 retry gaps of interval_s, not tick_s

    def test_localtime_clock_uses_local_wall_time(self):
        import os
        import time as _t
        from datetime import datetime, timezone

        from dcafs_spark.scheduler import Task, TaskManager, parse_trigger

        old_tz = os.environ.get("TZ")
        os.environ["TZ"] = "Etc/GMT-2"  # UTC+2 (POSIX sign convention)
        _t.tzset()
        try:
            tm = TaskManager(tick_s=0.5)
            loc = Task("loc", action=lambda s: None, **parse_trigger("localtime:07:15"))
            utc = Task("utc", action=lambda s: None, **parse_trigger("utctime:07:15"))
            at_0515_utc = datetime(2026, 8, 12, 5, 15, 0, tzinfo=timezone.utc)  # 07:15 local
            assert tm._due(loc, now_mono=100.0, now_utc=at_0515_utc) is True
            assert tm._due(utc, now_mono=100.0, now_utc=at_0515_utc) is False
            at_0715_utc = datetime(2026, 8, 12, 7, 15, 0, tzinfo=timezone.utc)  # 09:15 local
            assert tm._due(loc, now_mono=100.0, now_utc=at_0715_utc) is False
            assert tm._due(utc, now_mono=100.0, now_utc=at_0715_utc) is True
        finally:
            if old_tz is None:
                os.environ.pop("TZ", None)
            else:
                os.environ["TZ"] = old_tz
            _t.tzset()

    def test_parse_period_accepts_inner_whitespace(self):
        from dcafs_spark.scheduler import parse_period_s

        assert parse_period_s("5 m") == 300.0
        assert parse_period_s("1m 30s") == 90.0
        import pytest

        with pytest.raises(ValueError):
            parse_period_s("5 parsecs")
