"""Shared soak instrumentation: driver-JVM peak RSS + Spark stage metrics.

Used by scripts/soak.py (pipeline) and scripts/soak_dedup.py so every
soak records the same memory envelope: peak RSS (local mode: driver ==
executors), memory/disk spill, peak task execution memory, and total
shuffle write, via the status REST API.
"""

from __future__ import annotations

import json
import subprocess
import threading
import urllib.request
from pathlib import Path


class RssSampler(threading.Thread):
    """Peak RSS of the driver JVM (local mode: driver == executors)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop = threading.Event()

    def _java_pids(self):
        out = subprocess.run(
            ["pgrep", "-f", "java.*pyspark"], capture_output=True, text=True
        )
        pids = out.stdout.split()
        if not pids:
            out = subprocess.run(
                ["pgrep", "java"], capture_output=True, text=True
            )
            pids = out.stdout.split()
        return pids

    def run(self):
        while not self._stop.is_set():
            for pid in self._java_pids():
                try:
                    rss = int(
                        Path(f"/proc/{pid}/status")
                        .read_text()
                        .split("VmRSS:")[1]
                        .split()[0]
                    )
                    self.peak_kb = max(self.peak_kb, rss)
                except (OSError, IndexError, ValueError):
                    continue
            self._stop.wait(2.0)

    def stop(self):
        self._stop.set()


def stage_metrics(ui_port: int = 4040) -> dict:
    """Spill + peak execution memory from the status REST API."""
    base = f"http://localhost:{ui_port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(
            f"{base}/{app_id}/stages?status=complete", timeout=30
        )
    )
    return {
        "n_stages": len(stages),
        "memory_spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) for s in stages
        ),
        "disk_spill_bytes": sum(s.get("diskBytesSpilled", 0) for s in stages),
        "peak_execution_memory_bytes": max(
            (s.get("peakExecutionMemory", 0) for s in stages), default=0
        ),
        "shuffle_write_bytes": sum(
            s.get("shuffleWriteBytes", 0) for s in stages
        ),
    }
