"""Measurement helpers for the benchmark: in-memory span tracer, peak memory
of the whole process tree, a reader for Spark's monitoring REST
API, and the shutdown of the JVM that pyspark launches."""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import threading
import time
import urllib.request
from typing import Dict, List, Optional


class Tracer:
    """Spans kept in memory and written out once. A span records name,
    start, end and parent; every span of one run carries the same run id.
    Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> Dict[int, float]:
        """Span duration minus the part of it its children cover. Children
        of one parent run one after another, so their durations add."""
        covered: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return {
            s["id"]: (s["end"] - s["start"]) - covered.get(s["id"], 0.0)
            for s in self.spans
        }

    def write(self, path: str) -> None:
        selfs = self.self_times()
        out = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared between
    processes split among them. A forked child (a Python worker, or the
    JVM's short-lived child before it execs) is therefore not counted twice,
    as summing plain RSS would."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree(root: int) -> List[int]:
    """``root`` and every live descendant."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields start after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_bytes(root: int) -> int:
    """Memory of ``root`` and every descendant."""
    total = 0
    for pid in _tree(root):
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the memory of this process tree (Python driver, driver JVM
    and the Python workers the JVM forks) on a background thread and keeps
    the peak. Use as a context manager around the measured section."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_pss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def spark_group_stats(sc, group: str, wall_s: float, cores: int) -> Dict[str, float]:
    """Shuffle write, spill and executor busy share of the jobs in one job
    group, from the monitoring REST API of this application's UI (local
    host only). Polls until the listener has recorded every job as ended."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + 15
    while True:
        jobs = [j for j in _get_json(f"{base}/jobs") if j.get("jobGroup") == group]
        if jobs and all(j["status"] != "RUNNING" for j in jobs):
            break
        if time.time() > deadline:
            raise TimeoutError(f"jobs of group {group!r} still running in the UI")
        time.sleep(0.2)
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [
        s
        for s in _get_json(f"{base}/stages")
        if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
    ]
    mb = 1024 * 1024
    run_ms = sum(s["executorRunTime"] for s in stages)
    return {
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
        "spark.spill_mb": sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
        )
        / mb,
        "spark.task_busy_share": run_ms / 1000.0 / (wall_s * cores),
    }


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the gateway JVM pyspark launched, and
    wait for it to exit (it also exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
