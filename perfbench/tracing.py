"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here reads Spark from the outside, through public status
APIs, around the benchmark's own calls into the package:

- jobs by job-ID watermark over ``AppStatusStore.jobsList``, and their
  stage metrics from ``AppStatusStore.stageData``;
- streaming micro-batch progress from a ``StreamingQueryListener``;
- pinned blocks from ``SparkContext.getRDDStorageInfo``.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time

from pyspark.sql.streaming import StreamingQueryListener

import stats

MB = 1024.0 * 1024.0

#: stage metrics summed per call, as (output key, StageData getter, scale)
_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1.0),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / MB),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / MB),
    ("spill_mb", "diskBytesSpilled", 1 / MB),
    ("result_mb", "resultSize", 1 / MB),
)
STAGE_KEYS = ("jobs", "stages") + tuple(k for k, _, _ in _STAGE_FIELDS)


class _ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress, in arrival order."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Span recorder. With ``enabled=False`` a span only times its body,
    so the end-to-end runs take no Spark status reads at all."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.probe_s = 0.0
        self._stack: list[int] = []
        if not enabled:
            return
        jsc = spark.sparkContext._jsc.sc()
        self._sc = jsc
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._listener = _ProgressListener()
        spark.streams.addListener(self._listener)

    # ------------------------------------------------------------ probes

    def _drain(self) -> None:
        """Wait until every event posted so far reached the status store
        and the streaming listener."""
        self._bus.waitUntilEmpty()

    def _watermark(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _pinned(self) -> dict[int, float]:
        return {
            r.id(): (r.memSize() + r.diskSize()) / MB
            for r in self._sc.getRDDStorageInfo()
        }

    def _jobs_since(self, before: int) -> dict[int, object]:
        """JobData of every job with an ID above ``before``."""
        out = {}
        it = self._store.jobsList(None).iterator()  # newest first
        while it.hasNext():
            job = it.next()
            if job.jobId() <= before:
                break
            out[job.jobId()] = job
        return out

    def _stage_metrics(self, jobs: list) -> dict[str, float]:
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        out["jobs"] = float(len(jobs))
        stage_ids: set[int] = set()
        for job in jobs:
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for s in sorted(stage_ids):
            attempts = self._store.stageData(s, False, None, False, None)
            ran = False
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                ran = True
                for key, getter, scale in _STAGE_FIELDS:
                    out[key] += getattr(sd, getter)() * scale
            out["stages"] += ran
        return out

    def _snapshot(self) -> tuple[int, int, dict[int, float]]:
        self._drain()
        return self._watermark(), len(self._listener.progress), self._pinned()

    # ------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str, probe: bool = False, **attrs):
        """Record one span around the body. With ``probe`` (traced runs
        only) also attribute to it the jobs, stage metrics, micro-batch
        progress and pins that fall inside it; the probes run outside
        the span's own start and end."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        idx = len(self.spans)
        self.spans.append(rec)
        if self.enabled and probe:
            p0 = time.perf_counter()
            hi0, nprog0, pins0 = self._snapshot()
            self.probe_s += time.perf_counter() - p0
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled and probe:
                p0 = rec["end"]
                hi1, nprog1, pins1 = self._snapshot()
                jobs = self._jobs_since(hi0)
                rec["job_ids"] = stats.jobs_between(jobs, hi0, hi1)
                rec["spark"] = self._stage_metrics([jobs[j] for j in rec["job_ids"]])
                rec["streaming"] = stats.fold_progress(self._listener.progress[nprog0:nprog1])
                rec["pins_added"] = len(set(pins1) - set(pins0))
                rec["pinned_mb"] = sum(pins1.values())
                self.probe_s += time.perf_counter() - p0

    def pinned_mb(self) -> float:
        return sum(self._pinned().values())

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON document."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            out.append({**s, "self_s": stats.self_time(s, kids.get(i, []))})
        with open(path, "w") as f:
            json.dump({"spans": out}, f)
