"""Storage figures read from a table directory, outside the engine.

The commit files ``_spark_delta_log/<version>.json`` are replayed here with
plain ``json`` (no checkpoint is needed: the benchmark never truncates the
log), giving per-commit file and byte counts and the live file set.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

LOG_DIR = "_spark_delta_log"


@dataclass
class Commit:
    files_added: int = 0
    files_removed: int = 0
    bytes_added: int = 0
    bytes_removed: int = 0
    rows_added: int = 0
    log_bytes: int = 0


@dataclass
class Replay:
    commits: dict[int, Commit] = field(default_factory=dict)
    live: dict[str, tuple[int, tuple]] = field(default_factory=dict)  # path -> (size, partition)


def _key(action: dict) -> str:
    base = action.get("base")
    return action["path"] if base is None else f"{base}::{action['path']}"


def replay(table_dir: str) -> Replay:
    log = os.path.join(table_dir, LOG_DIR)
    versions = sorted(int(n[:-5]) for n in os.listdir(log)
                      if n.endswith(".json") and n[:-5].isdigit())
    out = Replay()
    for v in versions:
        path = os.path.join(log, f"{v:020d}.json")
        c = Commit(log_bytes=os.path.getsize(path))
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    out.live[_key(a)] = (
                        a["size"], tuple(sorted(a.get("partitionValues", {}).items())))
                    c.files_added += 1
                    c.bytes_added += a["size"]
                    c.rows_added += a.get("numRecords", 0)
                elif "remove" in action:
                    size, _ = out.live.pop(_key(action["remove"]), (0, ()))
                    c.files_removed += 1
                    c.bytes_removed += size
        out.commits[v] = c
    return out


def disk_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def footprint(table_dir: str) -> dict[str, float]:
    """Bytes on disk per live data byte, and live files per live
    partition, at this moment."""
    r = replay(table_dir)
    live_bytes = sum(size for size, _ in r.live.values())
    partitions = {part for _, part in r.live.values()}
    return {
        "stored_bytes_per_live_byte": disk_bytes(table_dir) / live_bytes,
        "live_files_per_partition": len(r.live) / len(partitions),
    }


def per_commit(r: Replay, versions: list[int]) -> dict[str, float]:
    cs = [r.commits[v] for v in versions if v in r.commits]
    if not cs:
        return {}
    n = len(cs)
    rows = sum(c.rows_added for c in cs)
    return {
        "storage.files_added_per_commit": sum(c.files_added for c in cs) / n,
        "storage.files_removed_per_commit": sum(c.files_removed for c in cs) / n,
        "storage.bytes_added_per_row": (sum(c.bytes_added for c in cs) / rows
                                        if rows else 0.0),
        "storage.bytes_removed_per_commit": sum(c.bytes_removed for c in cs) / n,
        "storage.log_bytes_per_commit": sum(c.log_bytes for c in cs) / n,
    }
