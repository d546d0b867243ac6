"""Measurement from outside the engine: call spans, a py4j round-trip
counter, Spark event-log attribution and JVM peak RSS.

Spans are always recorded (two clock reads per call); they give every
end-to-end timing. The traced run (``--trace 1``) adds the py4j
counter and the Spark event log, which together cost the tracing
overhead the benchmark reports.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Recorder:
    """Flat, sequential call spans. The benchmark drives the engine from
    one client thread, so spans never overlap and each Spark job (even
    one submitted from an engine-internal thread) falls inside exactly
    one span's wall-clock window."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, float]] = []
        self.py4j: dict[str, int] = defaultdict(int)
        self._current = "idle"
        self._lock = threading.Lock()
        self._unpatch = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one call; (name, wall start, wall end, seconds)."""
        self._current = name
        w0, p0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            p1, w1 = time.perf_counter(), time.time()
            self._current = "idle"
            self.spans.append((name, w0, w1, p1 - p0))

    def seconds(self, name: str) -> list[float]:
        return [d for n, _, _, d in self.spans if n == name]

    def calls(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)

    # ---------------------------------------------------------- py4j

    def count_py4j(self) -> None:
        """Patch py4j's client so every driver->JVM round trip counts
        against the span active when it is sent."""
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        rec = self

        def send_command(client, command, *args, **kwargs):
            with rec._lock:
                rec.py4j[rec._current] += 1
            return orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

        def unpatch():
            GatewayClient.send_command = orig

        self._unpatch = unpatch

    def stop_counting(self) -> None:
        if self._unpatch is not None:
            self._unpatch()
            self._unpatch = None


def event_log_conf(log_dir: str) -> dict:
    """Spark settings for an uncompressed, single-file event log
    (the zstd default needs a codec this environment lacks)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _acc(stage_info: dict, name: str) -> float:
    for a in stage_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Value", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def attribute_jobs(log_dir: str, spans) -> dict[str, dict[str, float]]:
    """Per span name: Spark jobs, executor CPU seconds and shuffle MB
    written, from the event log, attributing each job to the span whose
    window contains its submission time. Jobs outside every span land
    under ``"unattributed"``. Read after the SparkContext stopped, when
    the log is complete."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(f)
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    job_of_stage: dict[int, int] = {}
    job_time: dict[int, float] = {}
    stage_cpu: dict[int, float] = defaultdict(float)
    stage_shuffle: dict[int, float] = defaultdict(float)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = int(ev["Job ID"])
                job_time[jid] = float(ev["Submission Time"]) / 1000.0
                for sid in ev.get("Stage IDs", []):
                    job_of_stage.setdefault(int(sid), jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = int(info["Stage ID"])
                stage_cpu[sid] += (
                    _acc(info, "internal.metrics.executorCpuTime") / 1e9
                )
                stage_shuffle[sid] += _acc(
                    info, "internal.metrics.shuffle.write.bytesWritten"
                ) / 1e6
    windows = sorted((w0, w1, name) for name, w0, w1, _ in spans)

    def owner(t: float) -> str:
        for w0, w1, name in windows:
            if w0 <= t <= w1:
                return name
        return "unattributed"

    job_owner = {jid: owner(t) for jid, t in job_time.items()}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0}
    )
    for jid, name in job_owner.items():
        out[name]["jobs"] += 1
    for sid, jid in job_of_stage.items():
        name = job_owner.get(jid, "unattributed")
        out[name]["cpu_s"] += stage_cpu.get(sid, 0.0)
        out[name]["shuffle_mb"] += stage_shuffle.get(sid, 0.0)
    return dict(out)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, which in local mode
    also runs every executor thread."""
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
