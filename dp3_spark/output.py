"""Query result output shaping — the merge-coordinator / JSON transcode
analog (SURVEY.md §2.1 #9, §2.5 Query).

The reference streams results as one multiplexed MCAP stream, or JSON lines
shaped {topic, sequence, log_time, publish_time, data:{...}} with
nanosecond-precision decimal "sec.nanos" timestamps
(mcap/mcap_to_json.go:42-142, :29-40).  Here the result is a DataFrame; the
shaping is a projection, and JSON-lines is `toJSON` on that projection —
both distributed, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_COLS = ("producer", "topic", "log_time", "sequence")


def nanos_decimal(col: str):
    """int64 ns -> 'sec.nanosecond' decimal string with 9-digit fraction
    (mcap_to_json.go:29-40).

    Seconds use exact integer division (`div`), matching the reference's
    integer arithmetic: a double-rounded `/` misplaces the second for ns
    values within ~128 ns of a boundary (int64 ~1.7e18 exceeds double's
    53-bit mantissa).  One SQL expression: one py4j round trip to build."""
    return F.expr(
        f"concat_ws('.', cast(`{col}` div 1000000000 as string), "
        f"lpad(cast(`{col}` % 1000000000 as string), 9, '0'))"
    )


def to_json_shape(df: DataFrame, *, skeleton: bool = False) -> DataFrame:
    """Shape rows like the reference's JSON transcode:
    (topic, sequence, log_time 'sec.nanos', publish_time, data struct).

    The fixtures carry no separate publish_time; dp3 sets both from the
    message — publish_time := log_time here.  `skeleton` strips payloads
    (routes/query.go:43)."""
    payload = [
        c
        for c in df.columns
        if c not in META_COLS and c != "version" and not c.startswith("__")
    ]
    stamp = nanos_decimal("log_time")
    cols = ["topic", "sequence", stamp.alias("log_time"), stamp.alias("publish_time")]
    if not skeleton and payload:
        cols.append(F.struct(*payload).alias("data"))
    return df.select(*cols)


def to_json_lines(df: DataFrame, *, skeleton: bool = False):
    """JSON-lines output (Accept: application/json path,
    routes/query.go:92-135): a DataFrame of JSON strings — distributed;
    callers stream partitions, never collect on the driver."""
    return to_json_shape(df, skeleton=skeleton).toJSON()
