"""Structured Streaming runner for path specs.

Parity target: the reference's main loop — stream → forwards → store
(SURVEY §3.1). One continuous query per path:

    readStream (file/rate/socket/kafka)
      → path steps, bound once at start (narrow, codegen-fused)
      → foreachBatch { values-store merge + trigger rules
                       + sink appends }

The reference's flush knobs map onto the micro-batch trigger: its
JDBC buffer flushed at `batchsize` rows or `age` seconds
(`src/util/database/SqlTable.java:435-521`); here a processing-time
trigger ≈ `age`, and the sink writes whole micro-batches (far larger
than 30-row prepared-statement batches).

Out-of-order data: the reference stamps records at receive time and
has no late-data story (`Datagram.java:120-132`). `watermark`
surfaces Spark's native handling as an opt-in.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dcafs_spark.runtime import checkpoint

from dcafs_spark.plans.dsl import PathSpec, bind_path, compile_path
from dcafs_spark.streaming.values_store import ValuesStore


def kafka_options(spec: dict) -> dict[str, str]:
    """Kafka reader options from a source spec (pure function so the
    assembly is testable without the kafka connector jar present).

    Spec keys: servers (required), exactly one of topics/pattern/assign,
    optional starting_offsets (earliest|latest|json), max_per_trigger,
    group_id — mirroring the reference's MQTT/TCP subscribe settings
    (`src/mqtt/MqttWorker.java` topics, `src/io/stream/StreamManager`)."""
    opts = {"kafka.bootstrap.servers": spec["servers"]}
    subs = [k for k in ("topics", "pattern", "assign") if spec.get(k)]
    if len(subs) != 1:
        raise ValueError("kafka spec needs exactly one of topics/pattern/assign")
    key = {"topics": "subscribe", "pattern": "subscribePattern", "assign": "assign"}[subs[0]]
    opts[key] = spec[subs[0]]
    if "starting_offsets" in spec:
        opts["startingOffsets"] = spec["starting_offsets"]
    if "max_per_trigger" in spec:
        opts["maxOffsetsPerTrigger"] = str(spec["max_per_trigger"])
    if "group_id" in spec:
        opts["kafka.group.id"] = spec["group_id"]
    return opts


def build_source(spark: SparkSession, spec: dict) -> DataFrame:
    """Streaming source from a spec.

    kinds: text (file-drop dir — the FileMonitor/file-replay pattern,
    `src/util/tools/FileMonitor.java:19-132`), rate (interval ticks —
    PathForward's interval custom src), socket, kafka.
    Every source normalizes to the Datagram shape: value STRING,
    origin STRING, ts TIMESTAMP (`src/worker/Datagram.java:10-23`).
    """
    kind = spec["kind"]
    origin = spec.get("id", kind)
    if kind == "text":
        raw = spark.readStream.format("text")
        if "maxFilesPerTrigger" in spec:
            raw = raw.option("maxFilesPerTrigger", spec["maxFilesPerTrigger"])
        df = raw.load(spec["path"])
    elif kind == "rate":
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", spec.get("rowsPerSecond", 10))
            .load()
            .select(F.col("value").cast("string").alias("value"), F.col("timestamp"))
        )
    elif kind == "socket":
        df = (
            spark.readStream.format("socket")
            .option("host", spec["host"])
            .option("port", spec["port"])
            .load()
        )
    elif kind == "kafka":
        df = (
            spark.readStream.format("kafka")
            .options(**kafka_options(spec))
            .load()
            .select(F.col("value").cast("string").alias("value"), F.col("timestamp"))
        )
    elif kind == "format":
        # escape hatch for external connectors (MQTT, Pulsar, ...):
        # pass the Spark format name + raw options straight through
        raw = spark.readStream.format(spec["format"]).options(**spec.get("options", {}))
        df = raw.load(spec["path"]) if "path" in spec else raw.load()
    else:
        raise ValueError(f"unknown source kind: {kind}")
    if "value" not in df.columns:
        df = df.withColumn("value", F.col(df.columns[0]).cast("string"))
    if "timestamp" in df.columns:
        df = df.withColumnRenamed("timestamp", "ts")
    elif "ts" not in df.columns:
        df = df.withColumn("ts", F.current_timestamp())
    return df.withColumn("origin", F.lit(origin))


@dataclass
class StreamingPath:
    """One continuous query: source spec + path spec + sinks."""

    spark: SparkSession
    source: dict
    path: PathSpec
    store: ValuesStore | None = None
    store_cols: dict = field(default_factory=dict)  # group/name/value/ts col names
    sinks: list[Callable[[DataFrame, int], Any]] = field(default_factory=list)
    reject_sinks: dict[str, Callable[[DataFrame, int], Any]] = field(default_factory=dict)
    watermark: str | None = None  # e.g. "10 seconds"
    trigger_seconds: float | None = None
    checkpoint: str | None = None

    def start(self, query_name: str | None = None):
        # build the path's Columns once, before the query starts: a
        # spec that cannot be built raises here, not in the first batch
        bound = bind_path(self.path)
        df = build_source(self.spark, self.source)
        if self.watermark:
            df = df.withWatermark("ts", self.watermark)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            # per batch only the prepared Columns are applied: building
            # them for a four-step path is ~700 py4j calls, applying
            # them is one call per DataFrame operation
            main, rejects = compile_path(batch_df, bound)
            n_consumers = len(self.sinks) + (1 if self.store is not None else 0)
            if n_consumers > 1:
                # materialize once, fan out — but only when something
                # actually fans out: the checkpoint costs a full copy.
                # ephemeral: lifetime is this micro-batch; a failed
                # batch re-runs from the source via the streaming
                # checkpoint, so the deployment seam's reliable mode
                # would only leak per-batch checkpoint files
                main = main.transform(checkpoint, eager=True, ephemeral=True)
            if self.store is not None:
                self.store.merge_batch(main, **self.store_cols)
            for sink in self.sinks:
                sink(main, batch_id)
            for tag, sink in self.reject_sinks.items():
                if tag in rejects:
                    sink(rejects[tag], batch_id)

        writer = df.writeStream.foreachBatch(process)
        if query_name:
            writer = writer.queryName(query_name)
        if self.trigger_seconds:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        if self.checkpoint:
            writer = writer.option("checkpointLocation", self.checkpoint)
        return writer.start()

