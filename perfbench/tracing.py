"""Layer attribution from outside the engine.

- ``Tracer`` keeps spans in memory and counts calls at the layer
  boundaries: py4j round trips (``GatewayClient.send_command``, without
  the object deletes Python's garbage collector sends) and the
  public ``session.load_table`` / ``session.materialize`` functions, wrapped
  before the query modules import them.
- ``plan_shape`` counts the nodes and Exchanges of an executed-plan string.
- ``eventlog_by_group`` folds a Spark event log into per-job-group job,
  stage and task totals.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from collections import defaultdict


_PY4J_GC_DELETE = "m\nd\n"  # py4j protocol: memory command, delete


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.load_table_calls = 0
        self.load_table_s = 0.0
        self.materialize_calls = 0

    def install(self) -> None:
        """Count py4j commands and wrap the session layer's public loaders.
        Must run before ``registry.load_all()`` imports the query modules,
        which bind ``load_table``/``materialize`` by name."""
        from py4j.java_gateway import GatewayClient

        from shadowcat_data_spark import session

        send = GatewayClient.send_command

        def counted_send(client, command, *args, **kwargs):
            # garbage-collection deletes follow Python's collector, not the build
            if not command.startswith(_PY4J_GC_DELETE):
                self.py4j_calls += 1
            return send(client, command, *args, **kwargs)

        GatewayClient.send_command = counted_send

        load_table, materialize = session.load_table, session.materialize

        def timed_load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return load_table(*args, **kwargs)
            finally:
                self.load_table_calls += 1
                self.load_table_s += time.perf_counter() - t0

        def counted_materialize(*args, **kwargs):
            self.materialize_calls += 1
            return materialize(*args, **kwargs)

        session.load_table = timed_load_table
        session.materialize = counted_materialize

    def counters(self) -> tuple[int, int, float, int]:
        return (
            self.py4j_calls,
            self.load_table_calls,
            self.load_table_s,
            self.materialize_calls,
        )

    @contextlib.contextmanager
    def span(self, name: str, query: str, parent: int | None = None):
        span = {"id": len(self.spans), "name": name, "query": query, "parent": parent}
        self.spans.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span["id"]
        finally:
            span["end"] = time.perf_counter()

    def duration(self, span_id: int) -> float:
        s = self.spans[span_id]
        return s["end"] - s["start"]


_NODE = re.compile(r"^[\s:|]*[+:]- (\S+)")
_EXCHANGE = re.compile(r"^(Broadcast|Shuffle|Reused)?Exchange$")


def plan_shape(plan: str) -> tuple[int, int]:
    """(nodes, Exchanges) of a physical plan's tree string."""
    lines = plan.splitlines()
    names = [lines[0].split(" ")[0]] if lines else []
    names += [m.group(1) for m in map(_NODE.match, lines[1:]) if m]
    return len(names), sum(1 for n in names if _EXCHANGE.match(n))


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by (start_ms, end_ms) intervals."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def eventlog_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, job_s (wall covered by its jobs), stages, tasks,
    task_run_s and shuffle/spill/input/output megabytes, from every event
    log file in ``log_dir``."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str, list] = defaultdict(list)
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    mb = 1024.0 * 1024.0
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"]
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    jid = ev["Job ID"]
                    intervals[job_group[jid]].append(
                        (job_start[jid], ev["Completion Time"])
                    )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        out[stage_group[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    g = out[stage_group[ev["Stage ID"]]]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["tasks"] += 1
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / mb
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / mb
                    g["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / mb
                    g["output_mb"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    ) / mb
    for group, ivs in intervals.items():
        out[group]["job_s"] = _union_s(ivs)
    return {g: dict(v) for g, v in out.items()}
