from orc_spark.streaming.orclog_stream import stream_orclog_parse
from orc_spark.streaming.windows import stream_event_windows

__all__ = ["stream_orclog_parse", "stream_event_windows"]
