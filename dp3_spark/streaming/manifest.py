"""The per-version write-manifest format of a VersionedLogTable.

A manifest records the file set one committed write landed (see the
lifecycle module docstring).  They live under `_meta/<prefix(gen)>/`,
one directory per data generation, in two kinds:

- `v{N:012d}.list` — the files written at version N;
- `base_{W:012d}.list` — files committed at or below watermark W whose
  per-file versions are unresolved (a grandfathered legacy table, or a
  compacted generation).

Each line is `relpath\\trows\\tbytes`: a root-relative path, its row count
and its size at commit time, either -1 when unknown.  Two-field lines
written before the size column read with bytes -1.

Standard library only, so the offline inspector can read a table
without a Spark session.
"""

from __future__ import annotations

import os


def prefix(gen: str) -> str:
    """Manifest directory of data generation `gen`, relative to `_meta`."""
    return f"manifest/{gen}"


def version_name(n: int) -> str:
    return f"v{n:012d}.list"


def base_name(w: int) -> str:
    return f"base_{w:012d}.list"


def parse_name(name: str) -> tuple[bool, int] | None:
    """`v{N}.list` -> (False, N); `base_{W}.list` -> (True, W); anything
    else (a `.tmp` of an interrupted put, a foreign object) -> None."""
    stem, _, ext = os.path.basename(name).partition(".")
    if ext != "list":
        return None
    if stem.startswith("base_"):
        is_base, digits = True, stem[len("base_"):]
    elif stem.startswith("v"):
        is_base, digits = False, stem[1:]
    else:
        return None
    return (is_base, int(digits)) if digits.isdigit() else None


def format_lines(entries: dict[str, tuple[int, int]]) -> bytes:
    """{relpath -> (rows, bytes)} -> manifest payload, sorted by path."""
    return "".join(
        f"{rel}\t{rows}\t{size}\n" for rel, (rows, size) in sorted(entries.items())
    ).encode()


def parse_lines(raw: bytes) -> dict[str, tuple[int, int]]:
    """Manifest payload -> {relpath -> (rows, bytes)}; a missing or empty
    field reads as -1."""
    out: dict[str, tuple[int, int]] = {}
    for line in raw.decode().splitlines():
        if not line:
            continue
        rel, rows, size = (line.split("\t") + ["", ""])[:3]
        out[rel] = (int(rows or -1), int(size or -1))
    return out
