"""Spans, Spark job/stage capture and the summary statistics the
benchmark reports.

Spans are recorded by the benchmark around its own calls into the
package (no tracing inside the package). A span that issues Spark jobs
runs under a job group named after its id; after the op the benchmark
reads that group's job and stage records from Spark's status tracker and
status store, so the jobs hang under the call that issued them.

Everything here except :class:`SparkStatus` is plain Python and is
exercised by ``test_perfbench.py`` without a Spark session.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------- intervals


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


# ---------------------------------------------------------------- statistics


def median(values) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def tail(samples) -> dict:
    """The highest percentile that still has at least ten samples beyond it.

    For ``n`` sorted samples that is the ``n - 10``-th smallest, i.e. the
    ``100 * (n - 10) / n`` percentile. With ten or fewer samples no
    percentile qualifies; the maximum is reported instead, labelled
    percentile 100 with 0 samples beyond, so the output says which rule
    applied.
    """
    v = sorted(samples)
    n = len(v)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= 10:
        return {"value": v[-1], "percentile": 100.0, "beyond": 0, "n": n}
    k = n - 10
    return {"value": v[k - 1], "percentile": 100.0 * k / n, "beyond": n - k, "n": n}


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    op: int | None = None
    workload: str = ""
    group: str | None = None
    fetch: bool = False
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "op": self.op,
            "workload": self.workload,
            **({"group": self.group} if self.group else {}),
            **self.attrs,
        }


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(clip([(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end))
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Records spans in memory. With ``enabled=False`` only spans opened
    with ``always=True`` (the op roots) are recorded, so the untraced run
    still has a job group per op for its status-store checks."""

    def __init__(self, workload: str, enabled: bool, set_group=None):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.set_group = set_group or (lambda group: None)
        self._next_id = 1
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, fetch: bool = False, always: bool = False):
        """``jobs``: run the body under a job group of its own.
        ``fetch``: the body ends with the result-fetch action; a ``fetch``
        child is derived from its last stage end to its return."""
        if not (self.enabled or always):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=self._next_id,
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            op=self.op,
            workload=self.workload,
            fetch=fetch,
        )
        self._next_id += 1
        if jobs:
            s.group = f"perfbench-{s.id}"
            self.set_group(s.group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if jobs:
                outer = next((p.group for p in reversed(self._stack) if p.group), None)
                self.set_group(outer)
            self.spans.append(s)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def add_fetch_spans(self, spans: list[Span]) -> None:
        """Derive a ``fetch`` child for every span marked ``fetch``: from
        the last stage completion inside the span to the call's return."""
        for s in list(spans):
            if not s.fetch or not s.attrs.get("stage_intervals"):
                continue
            last = max(e for _, e in s.attrs["stage_intervals"])
            start = min(max(last, s.start), s.end)
            f = Span(
                id=self._next_id,
                name="fetch",
                start=start,
                end=s.end,
                parent=s.id,
                op=s.op,
                workload=s.workload,
            )
            self._next_id += 1
            self.spans.append(f)
            spans.append(f)


# ---------------------------------------------------------------- job capture


class EvictedRecords(RuntimeError):
    """A job or stage the op ran is missing from the status store."""


STAGE_SUMS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "executorDeserializeTime",
    "resultSize",
    "inputBytes",
    "inputRecords",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def capture(status, groups: list[str], after_job: int | None) -> dict:
    """Read the jobs and stages of one op (all its job groups).

    ``status`` answers ``job_ids(group)``, ``job(id)`` and ``stage(id)``;
    a record the store no longer holds comes back as ``None``. A stage
    that was never attempted is still recorded, with status ``SKIPPED``,
    so an absent record is an eviction, never a skip. Job ids are
    consecutive, so the op's jobs must be exactly ``after_job + 1 ..``
    with no gap: a gap means an early job of the op was evicted.

    Returns per-group stage lists and the op's last job id.
    """
    by_group: dict[str, dict] = {}
    all_jobs: list[int] = []
    for g in groups:
        job_ids = sorted(status.job_ids(g))
        all_jobs += job_ids
        jobs, stages, seen = [], [], set()
        for jid in job_ids:
            jd = status.job(jid)
            if jd is None:
                raise EvictedRecords(f"job {jid} of group {g} is not in the status store")
            jobs.append(jd)
            for sid in jd["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = status.stage(sid)
                if sd is None:
                    raise EvictedRecords(f"stage {sid} of job {jid} is not in the status store")
                if sd["status"] != "SKIPPED":
                    stages.append(sd)
        by_group[g] = {"jobs": jobs, "stages": stages}
    all_jobs.sort()
    if all_jobs:
        first = all_jobs[0] if after_job is None else after_job + 1
        if all_jobs != list(range(first, first + len(all_jobs))):
            raise EvictedRecords(
                f"job ids {all_jobs[:3]}..{all_jobs[-3:]} are not the consecutive run after job {after_job}"
            )
    last = all_jobs[-1] if all_jobs else after_job
    return {"groups": by_group, "last_job": last}


def stage_summary(jobs: list[dict], stages: list[dict]) -> dict:
    """Counters and busy times of one group's executed stages."""
    out = {k: sum(s[k] for s in stages) for k in STAGE_SUMS}
    out["jobs"] = len(jobs)
    out["stages"] = len(stages)
    out["stage_intervals"] = [
        (s["submissionTime"] / 1e3, s["completionTime"] / 1e3)
        for s in stages
        if s["submissionTime"] is not None and s["completionTime"] is not None
    ]
    scan = [s["numTasks"] for s in stages if s["inputRecords"] > 0]
    out["scan_partitions"] = max(scan) if scan else 0
    return out


class SparkStatus:
    """``capture``'s view of a live SparkContext."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def job(self, jid: int) -> dict | None:
        info = self._tracker.getJobInfo(jid)
        if info is None:
            return None
        try:
            jd = self._store.job(jid)
        except Exception:  # noqa: BLE001 — py4j NoSuchElementException: evicted
            return None
        return {"id": jid, "stageIds": list(info.stageIds), "status": jd.status().toString()}

    def stage(self, sid: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j NoSuchElementException: evicted
            return None
        out = {k: int(getattr(sd, k)()) for k in STAGE_SUMS}
        out["id"] = sid
        out["status"] = sd.status().toString()
        for k in ("submissionTime", "completionTime"):
            opt = getattr(sd, k)()
            out[k] = int(opt.get().getTime()) if opt.isDefined() else None
        return out


# ---------------------------------------------------------------- memory


def status_kb(key: str) -> int:
    """A ``kB`` field (such as ``VmHWM``) of this process's status."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def reset_peak_rss() -> bool:
    """Reset this process's VmHWM to its current resident set; False
    where the kernel does not allow it."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        return False
    return True


class JvmMemory:
    """Peak use of the driver JVM's memory pools, read from their beans.

    The JVM's VmHWM mostly shows how far the collector grew the heap, not
    what the program kept in it. The run fixes the young generation
    (``-Xmn``) large enough that most short-lived objects die in it; the
    peak use of the pools that outlive a young collection (survivor and
    old, where large arrays such as fetched results are allocated
    directly) then follows what the program keeps, plus whatever garbage
    a collection happened to promote (the run-to-run spread). Eden's peak
    is its fixed size, so it is left out. Non-heap pools (metaspace, code
    cache) count."""

    def __init__(self, jvm):
        pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        self._pools = list(pools)
        self._kept = [p for p in self._pools if "Eden" not in p.getName()]
        self._heap = [p for p in self._kept if p.getType().name() == "HEAP"]

    def reset_peaks(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def peak(self) -> dict[str, float]:
        """Peak use since the last reset, in MB: ``heap_mb`` of the
        survivor and old pools, ``nonheap_mb`` of the non-heap pools."""
        mb = 1024.0 * 1024.0
        heap = sum(p.getPeakUsage().getUsed() for p in self._heap)
        total = sum(p.getPeakUsage().getUsed() for p in self._kept)
        return {
            "heap_mb": heap / mb,
            "nonheap_mb": (total - heap) / mb,
            "pools_mb": {str(p.getName()): p.getPeakUsage().getUsed() / mb for p in self._pools},
        }


def steal_jiffies() -> int:
    """CPU time the hypervisor gave to other guests (``steal`` in
    ``/proc/stat``), summed over cpus, in clock ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))
