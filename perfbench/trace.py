"""Spans around engine calls, job-group labels, event-log attribution
and process-tree sampling — all from outside the engine.

A span covers one call into a layer: ``call`` is the time inside the
lazy public function (driver-side plan building), ``exec`` the action
the benchmark issues on its output. While a span is open every Spark
job carries the job group ``<workload>:<layer>.<function>``; after the
run the event log is read back and each task is attributed to its
job's group, so jobs, tasks, CPU, shuffle and input bytes land on the
call that caused them.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# event-log free-space gate: below this the run goes untraced-by-log
# (attribution reported as missing) instead of filling the disk
EVENTLOG_MIN_FREE_BYTES = 2 * 2**30


class Span:
    __slots__ = ("name", "t0", "t_call", "t1", "rows")

    def __init__(self, name: str):
        self.name = name
        self.t0 = time.perf_counter()
        self.t_call = None
        self.t1 = None
        self.rows = 0  # result rows, for per-result ratios

    def called(self) -> None:
        """Mark the end of the lazy call; the rest is the action."""
        self.t_call = time.perf_counter()

    @property
    def call_s(self) -> float:
        return (self.t_call or self.t1) - self.t0

    @property
    def exec_s(self) -> float:
        return self.t1 - (self.t_call or self.t1)

    @property
    def total_s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; when ``labels`` is on, also sets the job group."""

    def __init__(self, spark, workload: str, labels: bool):
        self.spark = spark
        self.workload = workload
        self.labels = labels
        self.spans: list[Span] = []

    def group(self, name: str) -> str:
        return f"{self.workload}:{name}"

    @contextmanager
    def span(self, name: str):
        sp = Span(name)
        sc = self.spark.sparkContext
        if self.labels:
            sc.setJobGroup(self.group(name), self.group(name))
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            if self.labels:
                sc.setJobGroup(self.group("bench.glue"), self.group("bench.glue"))
            self.spans.append(sp)

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for sp in self.spans:
            out[sp.name].append(sp)
        return out


def bus_sync(spark) -> bool:
    """Drain the listener bus; False (reported, not swallowed) when the
    internal call is unavailable."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return True
    except Exception:  # noqa: BLE001 - any py4j failure means "not synced"
        return False


def eventlog_conf(evdir: str) -> dict[str, str] | None:
    """Compressed event-log settings, or None when the disk is short."""
    os.makedirs(evdir, exist_ok=True)
    if shutil.disk_usage(evdir).free < EVENTLOG_MIN_FREE_BYTES:
        return None
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "true",
        "spark.eventLog.compression.codec": "zstd",
    }


def decompress_eventlog(evdir: str, out_dir: str) -> list[str]:
    """Inflate the (finished) zstd event log through the JVM's own
    codec into plain JSON lines; call after the SparkContext stopped."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    conf = jvm.org.apache.spark.SparkConf(False)
    codec = jvm.org.apache.spark.io.ZStdCompressionCodec(conf)
    written = []
    for dirpath, _dirs, files in os.walk(evdir):
        for name in sorted(files):
            if not name.endswith(".zstd"):
                continue
            src = os.path.join(dirpath, name)
            stream = codec.compressedInputStream(jvm.java.io.FileInputStream(src))
            try:
                data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
            finally:
                stream.close()
            # keep the rolling layout (eventlog_v2_*/events_N_*) the
            # reader expects
            dst_dir = os.path.join(out_dir, os.path.relpath(dirpath, evdir))
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, name[: -len(".zstd")])
            with open(dst, "wb") as fh:
                fh.write(data)
            written.append(dst)
    return written


def _new_group_stats() -> dict:
    return {
        "jobs": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
        "shuffle_mb": 0.0, "input_mb": 0.0, "records_read": 0,
    }


def job_group_reader(evdir: str, aliases: dict[str, str]):
    """An event-log reader that attributes tasks to job groups by job
    id. Built on the repository's bench reader (``bench.py``): its file
    discovery, offsets and whole-line contract are reused, and each
    newly consumed span of lines is read once more here for grouping.
    ``aliases`` renames job groups the benchmark cannot set itself
    (a streaming query labels its jobs with its run id)."""
    import bench

    class JobGroupReader(bench._EventLogReader):
        def __init__(self):
            super().__init__(evdir)
            self.job_group: dict[int, str] = {}
            self.stage_job: dict[int, int] = {}
            self.groups: dict[str, dict] = defaultdict(_new_group_stats)
            self.sql_plan: dict[int, str] = {}
            self.group_sql: dict[str, set] = defaultdict(set)

        def _drain_file(self, path: str, m: dict) -> None:
            start = self._off.get(path, 0)
            super()._drain_file(path, m)
            end = self._off.get(path, 0)
            if end <= start:
                return
            with open(path, "rb") as f:
                f.seek(start)
                buf = f.read(end - start)
            for line in buf.splitlines():
                try:
                    self._event(json.loads(line))
                except (json.JSONDecodeError, UnicodeDecodeError):
                    continue

        def _event(self, ev: dict) -> None:
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id") or ""
                grp = aliases.get(grp, grp)
                jid = ev["Job ID"]
                self.job_group[jid] = grp
                for sid in ev.get("Stage IDs") or []:
                    self.stage_job.setdefault(sid, jid)
                self.groups[grp]["jobs"] += 1
                sql = props.get("spark.sql.execution.id")
                if sql is not None:
                    self.group_sql[grp].add(int(sql))
            elif et == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                self.sql_plan[ev.get("executionId")] = ev.get("physicalPlanDescription") or ""
            elif et == "SparkListenerTaskEnd":
                jid = self.stage_job.get(ev.get("Stage ID"))
                g = self.groups[self.job_group.get(jid, "")]
                tm = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                g["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                g["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                im = tm.get("Input Metrics") or {}
                g["input_mb"] += im.get("Bytes Read", 0) / 1e6
                g["records_read"] += im.get("Records Read", 0)

        def sql_writes_matching(self, group: str, pattern: str) -> int:
            """SQL executions of ``group`` whose write command's output
            path (the first field of its ``Arguments:`` line) matches
            ``pattern``."""
            rx = re.compile(pattern)

            def writes(plan: str) -> bool:
                return "InsertIntoHadoopFsRelationCommand" in plan and any(
                    rx.search(ln[len("Arguments: "):].split(",")[0])
                    for ln in plan.splitlines()
                    if ln.startswith("Arguments: ")
                )

            return sum(1 for x in self.group_sql.get(group, ()) if writes(self.sql_plan.get(x, "")))

    return JobGroupReader()


class TreeSampler:
    """Samples the proportional resident memory of this process and all
    of its descendants (driver, JVM, Python workers) and the 1-minute
    load."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_pss_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.load_start = load1()
        self.cpu_start = cpu_ticks()
        self.load_max = self.load_start
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def steal_frac(self) -> float:
        """Share of the box's CPU time stolen by other guests so far."""
        now = cpu_ticks()
        d = [b - a for a, b in zip(self.cpu_start, now)]
        return d[7] / sum(d) if sum(d) else 0.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        total, jvm = tree_pss_kb(os.getpid())
        self.peak_pss_mb = max(self.peak_pss_mb, total / 1024.0)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm / 1024.0)
        self.load_max = max(self.load_max, load1())


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_kb(pid: int) -> tuple[int, int]:
    """(proportional resident kB of ``pid`` and its descendants, of
    which the JVM's). PSS, not RSS: the Python workers are forked from
    one daemon and share most pages, which RSS would count once per
    worker."""
    total = jvm = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                is_jvm = f.read().strip() == "java"
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb = int(line.split()[1])
                        total += kb
                        jvm += kb if is_jvm else 0
                        break
        except OSError:
            continue
    return total, jvm


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def load1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return -1.0
