from .snapshot import snapshot_events, read_table
from .changefeed import change_feed
from .binlog import (
    BinlogTailer,
    MysqlPacketStream,
    binlog_change_feed,
    decode_binlog_segments,
    parse_segment,
    synth_binlog_events,
)
from .pgoutput import ReplicationStream
from .tailloop import (
    mysql_binlog_session,
    mysql_catalog_execute,
    pg_catalog_execute,
    pg_replication_session,
    tail_binlog,
    tail_pgoutput,
)
from .pgoutput import (
    decode_pgoutput,
    decode_pgoutput_messages,
    decode_pgoutput_truncates,
    parse_message,
    pgoutput_change_feed,
)

__all__ = [
    "snapshot_events",
    "read_table",
    "change_feed",
    "BinlogTailer",
    "MysqlPacketStream",
    "ReplicationStream",
    "mysql_binlog_session",
    "mysql_catalog_execute",
    "pg_catalog_execute",
    "pg_replication_session",
    "tail_binlog",
    "tail_pgoutput",
    "binlog_change_feed",
    "decode_binlog_segments",
    "parse_segment",
    "synth_binlog_events",
    "decode_pgoutput",
    "decode_pgoutput_messages",
    "decode_pgoutput_truncates",
    "parse_message",
    "pgoutput_change_feed",
]
