"""Spans around calls into the program, and a reader of Spark's status store.

A span records name, start, end, parent and request id, and sets a Spark job
group while it is open, so every job an action fires is attributed to the
innermost open span.  Spans stay in memory; the run writes them at the end.
``StatusStore`` reads job and stage counters over py4j from the driver's
``AppStatusStore``, which Spark keeps with the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.results: dict[int, object] = {}  # span id -> kept return value

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": sid, "name": name, "parent": parent, "request": request,
               "group": f"pb{sid}", "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self._sc.setJobGroup(top["group"], top["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, keep_result: bool = False) -> None:
        """Replace ``module.attr`` by a spanned wrapper.  Patch the name
        where the caller looks it up (a ``from x import f`` copy lives in
        the importing module).  ``keep_result`` keeps each call's return
        value in ``results`` under its span id."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(attr) as rec:
                out = orig(*args, **kwargs)
            if keep_result:
                self.results[rec["id"]] = out
            return out

        setattr(module, attr, spanned)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def subtree(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans[sid + 1 :]:
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    @staticmethod
    def duration(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(s) - covered


STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "shuffleWriteBytes", "shuffleFetchWaitTime", "memoryBytesSpilled",
    "diskBytesSpilled", "inputRecords", "inputBytes", "outputBytes",
)


class StatusStore:
    """Job and stage counters from the driver's status store, by job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _drain(self) -> None:
        # the status store is fed by the listener bus; wait for it to catch
        # up with the actions already returned
        try:
            self._jsc.listenerBus().waitUntilEmpty()
        except Exception:  # py4j surface varies by Spark build
            time.sleep(2.0)

    def jobs(self) -> list[dict]:
        """Every retained job with the counters of the stages it ran.  A
        stage shared by several jobs (a reused shuffle) counts once, in
        the first job that lists it; skipped stages count nowhere."""
        self._drain()
        store = self._jsc.statusStore()
        stages: dict[int, dict] = {}
        sl = store.stageList(None, False, False, self._no_quantiles, None)
        for i in range(sl.size()):
            s = sl.apply(i)
            if str(s.status()) == "SKIPPED":
                continue
            rec = {f: getattr(s, f)() for f in STAGE_FIELDS}
            agg = stages.setdefault(s.stageId(), {f: 0 for f in STAGE_FIELDS} | {"attempts": 0})
            for f in STAGE_FIELDS:
                agg[f] += rec[f]
            agg["attempts"] += 1
        jobs, seen = [], set()
        jl = store.jobsList(None)
        raw = []
        for i in range(jl.size()):
            j = jl.apply(i)
            g = j.jobGroup()
            ids = j.stageIds()
            raw.append((j.jobId(), g.get() if g.isDefined() else None,
                        [ids.apply(k) for k in range(ids.size())]))
        for job_id, group, stage_ids in sorted(raw):
            ran = [stages[s] for s in stage_ids if s in stages and s not in seen]
            seen.update(s for s in stage_ids if s in stages)
            job = {"id": job_id, "group": group, "stages": len(ran)}
            for f in STAGE_FIELDS:
                job[f] = sum(st[f] for st in ran)
            jobs.append(job)
        return jobs


def totals(jobs: list[dict]) -> dict:
    """The workload-level ``spark.*`` counters over ``jobs``."""
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["numTasks"] for j in jobs),
        "spark.failed_tasks": sum(j["numFailedTasks"] for j in jobs),
        "spark.executor_run_s": sum(j["executorRunTime"] for j in jobs) / 1e3,
        "spark.executor_cpu_s": sum(j["executorCpuTime"] for j in jobs) / 1e9,
        "spark.shuffle_write_bytes": sum(j["shuffleWriteBytes"] for j in jobs),
        "spark.shuffle_fetch_wait_s": sum(j["shuffleFetchWaitTime"] for j in jobs) / 1e3,
        "spark.spill_bytes": sum(j["memoryBytesSpilled"] + j["diskBytesSpilled"] for j in jobs),
    }
