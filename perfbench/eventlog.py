"""Parse an uncompressed Spark event log into per-job-tag task metrics.

The benchmark sets one ``spark.addTag`` per traced span. Spark records the
active tags of each job in ``SparkListenerJobStart`` under
``Properties["spark.job.tags"]`` (comma separated, each user tag behind a
``spark-session-<id>-thread-<id>-`` qualifier), and each task's metrics in
``SparkListenerTaskEnd``. This module joins the two through the
stage ids, using only the standard library.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = ("jobs", "tasks", "task_ms", "gc_ms", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "records_read")


def empty() -> dict[str, int]:
    return dict.fromkeys(FIELDS, 0)


def find_log(directory: str) -> str:
    """The single application log Spark wrote under ``directory``."""
    files = [os.path.join(directory, f) for f in os.listdir(directory)
             if not f.startswith(".")]
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise FileNotFoundError(f"expected one event log file in {directory}: {files}")
    return files[0]


def parse(path: str, prefix: str) -> dict[str, dict[str, int]]:
    """Per-tag totals for every user job tag starting with ``prefix``.

    A job carrying several matching tags is charged to each of them."""
    stage_tags: dict[int, list[str]] = defaultdict(list)
    out: dict[str, dict[str, int]] = defaultdict(empty)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                raw = (ev.get("Properties") or {}).get("spark.job.tags", "")
                tags = [t[t.index(prefix):] for t in raw.split(",") if prefix in t]
                for t in tags:
                    out[t]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_tags[sid].extend(tags)
            elif kind == "SparkListenerTaskEnd":
                tags = stage_tags.get(ev.get("Stage ID"))
                if not tags:
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                inp = m.get("Input Metrics") or {}
                add = {
                    "tasks": 1,
                    "task_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "records_read": inp.get("Records Read", 0),
                }
                for t in set(tags):
                    for k, v in add.items():
                        out[t][k] += v
    return dict(out)
