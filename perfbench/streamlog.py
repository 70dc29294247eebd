"""Read a Structured Streaming checkpoint: which micro-batch consumed
each source file, and when each micro-batch committed.

The file source's log (``sources/0``) holds one file per batch until a
compaction interval, when a ``<n>.compact`` file replaces the earlier
ones with the union of their entries; both kinds are read.  The commit
log (``commits/<n>``) is written once the sink has finished batch ``n``,
so its modification time is the batch's commit time.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse


def _log_entries(path: str):
    with open(path) as fh:
        lines = fh.read().splitlines()
    # first line is the log format version ("v1")
    for line in lines[1:]:
        if line.strip():
            yield json.loads(line)


def source_batches(checkpoint: str) -> dict[str, int]:
    """Basename of every file the source consumed -> its batch id."""
    log = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith(".") or name.endswith(".crc"):
            continue
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        for e in _log_entries(os.path.join(log, name)):
            path = unquote(urlparse(e["path"]).path)
            out[os.path.basename(path)] = int(e["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> commit time (seconds since the epoch)."""
    log = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(log, name)).st_mtime_ns / 1e9
    return out


def file_commit_times(checkpoint: str) -> dict[str, float]:
    """Basename of every consumed file whose batch committed -> that
    batch's commit time."""
    commits = commit_times(checkpoint)
    return {
        f: commits[b] for f, b in source_batches(checkpoint).items() if b in commits
    }
