"""Seeded robot-log generator: chunked ros1msg MCAP files plus ground truth.

Every producer records four topics at fixed rates, the way a robot's
recorder would.  All topics share one ros1msg schema (a Vector3Stamped-like
record whose header carries a ``frame_id`` string) because the versioned
table reads without schema merging: topics with differing schemas would not
read back as typed columns of one table.

Message times are regular per topic with a seeded per-producer phase and a
seeded jitter below a quarter period, so ``(producer, topic, log_time)`` is
unique and every as-of match is unambiguous.  The same seed gives the same
bytes; the returned frames are the ground truth the correctness checks
compare the engine's answers against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from dp3_spark.sources.mcap_codec import (
    McapChannel,
    McapMessage,
    McapSchema,
    write_mcap,
)

SCHEMA_NAME = "bench_msgs/Vector3Stamped"
SCHEMA_TEXT = """\
Header header
float64 x
float64 y
float64 z
================================================================================
MSG: std_msgs/Header
uint32 seq
time stamp
string frame_id
"""
# (topic, rate in Hz, frame_id)
TOPICS = (("/imu", 200, "imu_link"), ("/odom", 50, "odom"), ("/gps", 10, "gps"), ("/diag", 1, "diag"))
START_NS = 1_699_999_980 * 1_000_000_000  # minute-aligned, so summary buckets line up
NS = 1_000_000_000
CHUNK_BYTES = 256 * 1024


def producer_name(i: int) -> str:
    return f"robot-{i:02d}"


def messages(seed: int, producer: int, seconds: int) -> pd.DataFrame:
    """All messages one producer records in [START_NS, START_NS + seconds s),
    time-ordered: columns topic, log_time, sequence, x, y, z, frame_id."""
    rng = np.random.default_rng([seed, producer])
    parts = []
    for topic, hz, frame in TOPICS:
        period = NS // hz
        n = seconds * hz
        phase = int(rng.integers(0, period // 2))
        jitter = rng.integers(0, period // 4, size=n)
        parts.append(
            pd.DataFrame(
                {
                    "topic": topic,
                    "log_time": START_NS + phase + np.arange(n, dtype=np.int64) * period + jitter,
                    "sequence": np.arange(n, dtype=np.int64),
                    "x": rng.normal(0.0, 1.0, n).round(6),
                    "y": rng.normal(5.0, 2.0, n).round(6),
                    "z": rng.uniform(-1.0, 1.0, n).round(6),
                    "frame_id": frame,
                }
            )
        )
    return pd.concat(parts).sort_values("log_time", kind="stable").reset_index(drop=True)


def _payloads(df: pd.DataFrame) -> list[bytes]:
    """ros1 wire encoding of each row, built per frame_id with one numpy
    record array (the header string length is fixed within a topic)."""
    out: list[bytes | None] = [None] * len(df)
    for frame, idx in df.groupby("frame_id").indices.items():
        fb = frame.encode()
        dt = np.dtype(
            [("seq", "<u4"), ("sec", "<u4"), ("nsec", "<u4"), ("flen", "<u4"),
             ("frame", f"S{len(fb)}"), ("x", "<f8"), ("y", "<f8"), ("z", "<f8")]
        )
        sub = df.iloc[idx]
        rec = np.zeros(len(sub), dtype=dt)
        rec["seq"] = sub["sequence"].to_numpy()
        rec["sec"] = sub["log_time"].to_numpy() // NS
        rec["nsec"] = sub["log_time"].to_numpy() % NS
        rec["flen"] = len(fb)
        rec["frame"] = fb
        for c in ("x", "y", "z"):
            rec[c] = sub[c].to_numpy()
        raw = rec.tobytes()
        w = dt.itemsize
        for k, i in enumerate(idx):
            out[i] = raw[k * w:(k + 1) * w]
    return out  # type: ignore[return-value]


def write_file(path: str, df: pd.DataFrame) -> None:
    """Write one producer's messages as a chunked, zstd-compressed MCAP
    file."""
    channel = {t: i + 1 for i, (t, _, _) in enumerate(TOPICS)}
    msgs = [
        McapMessage(channel[t], int(s), int(lt), int(lt), p)
        for t, s, lt, p in zip(df["topic"], df["sequence"], df["log_time"], _payloads(df))
    ]
    with open(path, "wb") as f:
        write_mcap(
            f,
            [McapSchema(1, SCHEMA_NAME, "ros1msg", SCHEMA_TEXT.encode())],
            [McapChannel(i, 1, t, "ros1") for t, i in channel.items()],
            msgs,
            chunked=True,
            compression="zstd",
            chunk_size=CHUNK_BYTES,
        )


def write_fleet(out_dir: str, seed: int, producers: int, seconds: int) -> tuple[list[tuple[str, str]], pd.DataFrame]:
    """One file per producer covering [START_NS, START_NS + seconds s).
    Returns ([(path, producer)], ground truth with a producer column)."""
    files, truth = [], []
    for p in range(producers):
        df = messages(seed, p, seconds)
        path = f"{out_dir}/{producer_name(p)}.mcap"
        write_file(path, df)
        files.append((path, producer_name(p)))
        truth.append(df.assign(producer=producer_name(p)))
    return files, pd.concat(truth, ignore_index=True)

