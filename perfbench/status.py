"""Per-job-group Spark metrics, read from outside the engine.

Each benchmark operation runs under its own job group. After the timed
loop, :class:`StatusReader` waits for the listener bus to drain and then
sums, per group, the stage metrics in Spark's status store::

    statusTracker().getJobIdsForGroup(g) -> getJobInfo(j).stageIds
    statusStore().stageList(ArrayList, False, False, double[0], ArrayList)

``stageList`` returns a Scala ``Seq``; it is walked with ``.apply(i)``.
Reading happens once per run, so it adds nothing to the timed loop.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class GroupMetrics:
    jobs: int
    executor_run_s: float
    executor_cpu_s: float
    shuffle_mb: float
    # (start, end) epoch seconds of each job, for driver self time
    intervals: list


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusReader:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def read(self, groups) -> dict[str, GroupMetrics]:
        sc, jvm = self._sc, self._sc._jvm
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = self._jsc.statusStore()
        stage_of: dict[int, str] = {}
        jobs_of: dict[str, list[int]] = {}
        for g in groups:
            jobs_of[g] = list(tracker.getJobIdsForGroup(g))
            for j in jobs_of[g]:
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    stage_of[s] = g
        out = {}
        for g, jobs in jobs_of.items():
            spans = []
            for j in jobs:
                jd = store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    spans.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            out[g] = GroupMetrics(len(jobs), 0.0, 0.0, 0.0, spans)
        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        for i in range(stages.size()):
            st = stages.apply(i)
            g = stage_of.get(st.stageId())
            if g is None:
                continue
            m = out[g]
            m.executor_run_s += st.executorRunTime() / 1e3
            m.executor_cpu_s += st.executorCpuTime() / 1e9
            m.shuffle_mb += (st.shuffleReadBytes()
                             + st.shuffleWriteBytes()) / 1e6
        return out
