from .events_stream import run_stream_to_table, stream_events
from .replication_stream import run_replication_stream, stream_changeset_diffs

__all__ = [
    "run_stream_to_table",
    "stream_events",
    "run_replication_stream",
    "stream_changeset_diffs",
]
