"""Measurement helpers: in-memory spans, a /proc RSS sampler and the
single-core box-speed control."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans ``(name, start, end, parent)`` kept in memory and written
    as one JSON artifact by :meth:`dump`. A span opened with
    ``cover=True`` is one piece of the job's layer split; the sum of
    their self times over the job wall is ``trace.coverage``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, cover: bool = False):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "cover": cover, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Duration minus the time covered by direct children (spans
        are sequential, so children never overlap)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def covered_seconds(self) -> float:
        st = self.self_times()
        return sum(st[s["id"]] for s in self.spans if s["cover"])

    def dump(self, path: str, extra: dict) -> None:
        st = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
                  "self_s": st[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants (the
    driver, its JVM and the JVM's Python workers)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """One background thread sampling :func:`tree_rss_bytes` of this
    process; :meth:`stop` returns the highest sample, in MiB."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / (1 << 20)


def control_us_per_page() -> float:
    """bench.py's box-speed control: single-core router extraction of
    one fixed page, µs/page. Reported with every run so box drift is
    visible next to the figures."""
    import bench

    return bench._microbench_control()
