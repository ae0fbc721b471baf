"""Outside-in tracer: spans around the engine's public entry points, Spark
counters per span, and a streaming-progress listener.

Nothing under ``ez_cdc_spark/`` changes. ``Tracer.install`` replaces the
listed functions at their module attribute for the traced phase and
``Tracer.uninstall`` puts them back; the engine looks those names up at
call time, so engine-internal calls are traced too.

Job attribution is exact: while a span is the innermost open span on a
thread, that thread's ``spark.jobGroup.id`` local property is the span's
own id, so every job Spark submits meanwhile lands in the span's group.
After the run, ``statusTracker().getJobIdsForGroup`` and the status store
give each span's jobs, stages and task metrics.
"""

from __future__ import annotations

import itertools
import json
import threading
import time

# engine functions wrapped in place at their module attribute; the span is
# named "<module>.<function>"
MANIFEST_SPANS = (
    "merge_cow", "merge_mor", "compact_partial", "compact_mor", "gc", "vacuum",
    "change_feed", "change_feed_mor", "read_mor", "read_committed",
    "read_point_lookup",
)
CDC_SPANS = ("consume_feed_step",)
# spans around sink calls and benchmark-side actions, named by the caller
SINK_SPANS = ("upsert_batch", "lakehouse_feed_fanout_batch", "lakehouse_mor_fanout_batch")
PYDS_SPANS = ("read", "write")

ALL_SPANS = (
    *(f"cdc.{s}" for s in SINK_SPANS),
    *(f"cdc.{s}" for s in CDC_SPANS),
    *(f"manifest.{s}" for s in MANIFEST_SPANS),
    *(f"pyds.{s}" for s in PYDS_SPANS),
)
# spans that carry the work get the full counter set
HEAVY_SPANS = (
    "cdc.upsert_batch", "cdc.consume_feed_step", "manifest.merge_cow",
    "manifest.merge_mor", "manifest.compact_mor", "manifest.change_feed",
    "manifest.change_feed_mor", "manifest.read_mor", "pyds.read",
)
HEAVY_COUNTERS = ("calls", "wall_ms", "tasks", "cpu_ms", "offcpu_ms", "shuffle_mb", "output_mb")
STREAM_COUNTERS = ("trigger_ms", "add_batch_ms", "overhead_ms", "queue_ms", "backlog_files_max")
EXTRA_METRICS = (
    "cdc.upsert_batch.rows_rewritten_per_change",
    "manifest.merge_cow.rows_rewritten_per_change",
    "manifest.merge_cow.files_carried_ratio",
    "manifest.read_mor.delete_files",
    "lake.space_amp",
    "session.get_spark_ms",
    "gen.late_ms_max",
    "trace.overhead_pct",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = []
    for s in ALL_SPANS:
        names += [f"{s}.self_ms", f"{s}.jobs"]
        if s in HEAVY_SPANS:
            names += [f"{s}.{c}" for c in HEAVY_COUNTERS]
    names += [f"stream.{c}" for c in STREAM_COUNTERS]
    return names + list(EXTRA_METRICS)


class Span:
    __slots__ = ("id", "name", "parent", "trace_id", "start", "end", "attrs", "children_ms")

    def __init__(self, sid, name, parent, trace_id, attrs):
        self.id, self.name, self.parent, self.trace_id = sid, name, parent, trace_id
        self.attrs = attrs
        self.start = time.perf_counter()
        self.end = None
        self.children_ms = 0.0

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "trace_id": self.trace_id, "start": self.start, "end": self.end,
            "attrs": self.attrs,
        }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._saved: list[tuple] = []
        self.trace_id = None

    # --- span recording -------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        span = Span(f"bench-span-{next(self._ids)}", name,
                    parent.id if parent else None, self.trace_id, attrs)
        span.attrs["_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", span.id)
        st.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        st.pop()
        self.sc.setLocalProperty("spark.jobGroup.id", span.attrs.pop("_group"))
        if st:
            st[-1].children_ms += span.wall_ms
        self.spans.append(span)

    def wrap(self, name: str, fn, hook=None):
        """``hook(*args, **kwargs)``, when given, runs before the call and
        returns the span's attributes and a callback that finishes them
        from the call's result."""

        def traced(*args, **kwargs):
            st = self._stack()
            if st and st[-1].name == name:
                # the benchmark already opened this span around the call
                # and its action on the lazy result
                return fn(*args, **kwargs)
            attrs, after = hook(*args, **kwargs) if hook else ({}, None)
            span = self.begin(name, **attrs)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.end(span)
            if after is not None:
                after(result, span.attrs)
            return result

        return traced

    # --- patching the engine's module attributes ------------------------
    def install(self, hooks: dict | None = None) -> None:
        """Wrap every listed engine function at its module attribute.
        ``hooks`` maps a span name to a ``wrap`` hook."""
        from ez_cdc_spark.sources import manifest
        from ez_cdc_spark.streaming import cdc

        hooks = hooks or {}
        for mod, prefix, names in ((manifest, "manifest", MANIFEST_SPANS), (cdc, "cdc", CDC_SPANS)):
            for attr in names:
                fn = getattr(mod, attr)
                self._saved.append((mod, attr, fn))
                name = f"{prefix}.{attr}"
                setattr(mod, attr, self.wrap(name, fn, hooks.get(name)))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    # --- Spark counters --------------------------------------------------
    def spark_counters(self) -> dict:
        """Per span id: jobs, tasks, executor run/CPU ms, shuffle and
        output bytes and records of the jobs its own group holds. A stage
        shared by several jobs counts once, for the first span that ran it."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(2.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen_stages: set = set()
        out = {}
        for span in self.spans:
            c = dict(jobs=0, tasks=0, run_ms=0.0, cpu_ms=0.0, shuffle_b=0, output_b=0, output_rows=0)
            for j in sorted(tracker.getJobIdsForGroup(span.id)):
                c["jobs"] += 1
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:
                        continue
                    c["tasks"] += sd.numCompleteTasks()
                    c["run_ms"] += sd.executorRunTime()
                    c["cpu_ms"] += sd.executorCpuTime() / 1e6
                    c["shuffle_b"] += sd.shuffleWriteBytes()
                    c["output_b"] += sd.outputBytes()
                    c["output_rows"] += sd.outputRecords()
            out[span.id] = c
        return out

    def dump(self, path: str, counters: dict) -> None:
        with open(path, "w") as fh:
            for span in self.spans:
                rec = span.to_json()
                rec["spark"] = counters.get(span.id)
                fh.write(json.dumps(rec) + "\n")


def layer_metrics(spans: list[Span], counters: dict) -> dict:
    """Aggregate spans into ``<span>.<counter>`` totals."""
    agg = {s: dict(self_ms=0.0, jobs=0, calls=0, wall_ms=0.0, tasks=0,
                   cpu_ms=0.0, offcpu_ms=0.0, shuffle_mb=0.0, output_mb=0.0)
           for s in ALL_SPANS}
    for span in spans:
        a = agg.get(span.name)
        if a is None:
            continue
        c = counters[span.id]
        a["self_ms"] += span.wall_ms - span.children_ms
        a["jobs"] += c["jobs"]
        a["calls"] += 1
        a["wall_ms"] += span.wall_ms
        a["tasks"] += c["tasks"]
        a["cpu_ms"] += c["cpu_ms"]
        a["offcpu_ms"] += max(0.0, c["run_ms"] - c["cpu_ms"])
        a["shuffle_mb"] += c["shuffle_b"] / 1e6
        a["output_mb"] += c["output_b"] / 1e6
    out = {}
    for s in ALL_SPANS:
        out[f"{s}.self_ms"] = agg[s]["self_ms"]
        out[f"{s}.jobs"] = agg[s]["jobs"]
        if s in HEAVY_SPANS:
            for k in HEAVY_COUNTERS:
                out[f"{s}.{k}"] = agg[s][k]
    return out


class StreamListener:
    """Collects every streaming progress event (one per trigger)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "batch_id": p.batchId, "timestamp": p.timestamp,
                    "duration_ms": dict(p.durationMs), "rows": p.numInputRows,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def wait_for(self, batch_id: int, timeout_s: float = 10.0) -> None:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if any(e["batch_id"] >= batch_id for e in self.events):
                return
            time.sleep(0.05)
