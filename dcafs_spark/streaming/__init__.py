from dcafs_spark.streaming.runner import StreamingPath
from dcafs_spark.streaming.values_store import TriggerRule, ValuesStore

__all__ = ["StreamingPath", "TriggerRule", "ValuesStore"]
