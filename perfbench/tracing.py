"""Layer spans for the benchmark, measured from outside the program.

A span wraps the benchmark's call into one layer's public functions. While
it is the innermost open span its Spark jobs run under a job group of its
own, so the stages Spark ran for that call can be read back from the
status store right after the call (the store keeps only the last ~1000
stages). Span records (name, start, end, parent, run id) stay in memory and
are written out once, at the end of the run.

With tracing off every method is a pass-through: the timed runs pay for
nothing but a few Python calls.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# per-stage fields summed into a span, as named in Spark's v1.StageData
_STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "outputBytes",
)


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.missing_stages = 0
        self._stack: list[dict] = []
        self._seq = 0
        self._t0 = time.monotonic()
        if enabled:
            sc = spark.sparkContext
            jsc = sc._jsc.sc()
            self._sc = sc
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._no_status = sc._jvm.java.util.ArrayList()
            self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
            self._as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def _now(self) -> float:
        return time.monotonic() - self._t0

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._seq, "name": name, "run_id": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self.run_id}-{self._seq}",
            "untimed_s": 0.0,
        }
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = self._now()
        try:
            yield
        finally:
            rec["end"] = self._now()
            self._stack.pop()
            with self.untimed():
                rec["stages"] = self._stage_totals(rec["group"])
            self.spans.append(rec)

    @contextmanager
    def untimed(self):
        """Bookkeeping the benchmark adds (row counts, stage reads): its
        jobs run outside every layer's group and its time is taken out of
        the enclosing span's self time."""
        if not self.enabled:
            yield
            return
        t = time.monotonic()
        self._set_group(None)
        try:
            yield
        finally:
            if self._stack:
                self._stack[-1]["untimed_s"] += time.monotonic() - t
                self._set_group(self._stack[-1])

    def force(self, layer: str, df):
        """Traced runs only: run a lazy layer output to completion inside
        the current span, so its work is not billed to the next layer."""
        if not self.enabled:
            return df
        df = df.localCheckpoint(eager=True)
        with self.untimed():
            self.count(layer, "rows_out", df.count())
        return df

    def count(self, layer: str, key: str, value: float) -> None:
        if self.enabled:
            self.counters[layer][key] += value

    def _stage_totals(self, group: str) -> dict:
        self._bus.waitUntilEmpty(30_000)
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(_STAGE_FIELDS, 0)
        tot["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                attempts = self._as_java(self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                ))
            except Py4JJavaError:
                self.missing_stages += 1  # evicted from the status store
                continue
            for sd in attempts:
                for k in _STAGE_FIELDS:
                    tot[k] += getattr(sd, k)()
        return tot

    def layer_totals(self, cores: int) -> dict[str, dict[str, float]]:
        """Per layer: self time (span minus child spans minus benchmark
        bookkeeping) and the Spark stage counters of its own job groups."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s["name"], defaultdict(float))
            t["wall_s"] += s["end"] - s["start"] - child_s[s["id"]] - s["untimed_s"]
            st = s["stages"]
            t["busy_core_s"] += st["executorRunTime"] / 1e3
            t["cpu_s"] += st["executorCpuTime"] / 1e9
            t["gc_s"] += st["jvmGcTime"] / 1e3
            t["jobs"] += st["jobs"]
            t["shuffle_bytes"] += st["shuffleWriteBytes"]
            t["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            t["output_bytes"] += st["outputBytes"]
        for name, t in out.items():
            t["idle_frac"] = 1.0 - t["busy_core_s"] / (t["wall_s"] * cores) if t["wall_s"] > 0 else 0.0
            for k, v in self.counters.get(name, {}).items():
                t[k] += v
        for name, c in self.counters.items():
            if name not in out:
                out[name] = defaultdict(float, c)
        return out

    def dump(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [{k: v for k, v in s.items() if k != "group"} for s in self.spans],
            "counters": {k: dict(v) for k, v in self.counters.items()},
            "missing_stages": self.missing_stages,
        }


UNTRACED = Tracer(None, "untraced", enabled=False)
