"""Traced run: per-layer numbers measured from outside the engine.

A :class:`Tracer` wraps the engine's public layer functions
(``sources.io.load``, ``session.configure``), counts py4j commands, tags each
key's jobs with a job group, and after each key reads Spark's own counters:
the job and stage records of the status store, the query's phase tracker,
the Python-boundary SQL metrics of the executed plan and streaming progress
events; around each traced pass it lists the files written under the
engine's scratch tree. Nothing in the engine changes.

Spans are kept in memory and written as JSON lines when the run ends: one
span per layer boundary, all spans of one key run sharing an ``op`` id.
"""
from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time

#: python* SQL metrics of MapInArrow / ArrowEvalPython / BatchEvalPython.
_PY_METRICS = ("pythonInitTime", "pythonTotalTime", "pythonDataSent",
               "pythonDataReceived")

#: Per-layer metrics, each summed over the keys of one pass; the run reports
#: the median over traced passes. Ratios are formed from the summed parts.
LAYER_METRICS = {
    "session.start_s": "s",
    "io.load_calls": "count", "io.load_s": "s", "io.configure_calls": "count",
    "build_s": "s", "build.py4j_calls": "count", "build.jobs": "count",
    "build.job_s": "s",
    "plan_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_span_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.busy_frac": "ratio", "exec.failed_tasks": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "py.init_s": "s", "py.run_s": "s", "py.bytes_sent": "bytes",
    "py.bytes_received": "bytes", "py.useful_frac": "ratio",
    "collect.rows": "count", "collect.s": "s",
    "write.bytes": "bytes", "write.files": "count", "write.amp": "ratio",
    "stream.batches": "count", "stream.batch_p50_s": "s",
    "stream.input_rows": "count",
    "trace.overhead_s": "s", "trace.reconcile_err": "ratio",
}


def _ratio(num: float, den: float) -> float:
    return num / den if den > 0 else 0.0


class Tracer:
    """Instrumentation for one benchmark process."""

    def __init__(self, package: str, write_root: str, cores: int) -> None:
        self.package = package
        self.write_root = write_root
        self.cores = cores
        self.active = False      # wrappers record only while a key runs
        self.in_build = False    # py4j commands count only during build
        self.spans: list[dict] = []
        self.stream_events: list[tuple[float, int, float]] = []
        self._counts = {"load": 0, "configure": 0, "py4j": 0}
        self._load_s = 0.0
        self._stack: list[int] = []
        self._op = 0

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        """Wrap ``io.load`` / ``session.configure`` everywhere the engine's
        modules bound them, and hook py4j's command send."""
        from py4j.clientserver import ClientServerConnection

        io = sys.modules[f"{self.package}.sources.io"]
        session = sys.modules[f"{self.package}.session"]
        swaps = {
            id(io.load): self._wrap(io.load, "io.load", "load", timed=True),
            id(session.configure): self._wrap(session.configure,
                                              "session.configure",
                                              "configure"),
        }
        for name, mod in list(sys.modules.items()):
            if name == self.package or name.startswith(self.package + "."):
                for attr, val in list(vars(mod).items()):
                    if id(val) in swaps and callable(val):
                        setattr(mod, attr, swaps[id(val)])

        send = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(send)
        def counted(conn, command):
            if tracer.in_build:
                tracer._counts["py4j"] += 1
            return send(conn, command)

        ClientServerConnection.send_command = counted

    def _wrap(self, fn, span_name: str, counter: str, timed: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            tracer._counts[counter] += 1
            t0 = time.time()
            idx = tracer._span(span_name, t0, t0)
            tracer._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                t1 = tracer.spans[idx]["end"] = time.time()
                if timed:
                    tracer._load_s += t1 - t0

        return wrapper

    def _span(self, name: str, start: float, end: float, **attrs) -> int:
        """Record a span under the innermost open one; return its index."""
        self.spans.append({"op": self._op, "name": name, "start": start,
                           "end": end,
                           "parent": self._stack[-1] if self._stack else None,
                           **attrs})
        return len(self.spans) - 1

    def attach(self, spark) -> None:
        """Per-session hooks: the streaming progress listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.stream_events

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append((time.time(), p.numInputRows,
                               p.durationMs.get("triggerExecution", 0) / 1e3))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())

    # -- one key ----------------------------------------------------------

    def run_key(self, spark, key: str, fn, corpus_dir: str, pass_no: int):
        """Run one key traced; return (columns, rows, wall seconds, layer
        numbers for this key)."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._op += 1
        tag = f"perfbench:{key}:{pass_no}"
        for c in self._counts:
            self._counts[c] = 0
        self._load_s = 0.0
        n_stream = len(self.stream_events)

        t0 = time.time()
        op_idx = self._span("op", t0, t0, key=key, **{"pass": pass_no})
        self._stack = [op_idx]  # a key that raised leaves nothing open
        sc.setJobGroup(f"{tag}:build", key)
        job0 = jsc.dagScheduler().nextJobId()
        build_idx = self._span("build", t0, t0)
        self._stack.append(build_idx)
        self.active = self.in_build = True
        try:
            df = fn(spark, corpus_dir)
        finally:
            self.active = self.in_build = False
            self._stack.pop()
        t_build = self.spans[build_idx]["end"] = time.time()
        self.spans[build_idx]["py4j"] = self._counts["py4j"]
        job1 = jsc.dagScheduler().nextJobId()
        sc.setJobGroup(f"{tag}:collect", key)
        try:
            rows = df.collect()
        finally:
            t_end = time.time()
            sc.setJobGroup(None, None)
            job2 = jsc.dagScheduler().nextJobId()
            self._stack.pop()
        self.spans[op_idx]["end"] = t_end
        self._span("collect", t_build, t_end, parent=op_idx)

        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        build = self._jobs(store, range(job0, job1), op_idx, "build")
        coll = self._jobs(store, range(job1, job2), op_idx, "collect")
        span_lo = min((j[0] for j in coll["spans"]), default=t_build)
        span_hi = max((j[1] for j in coll["spans"]), default=t_build)
        job_span = span_hi - span_lo
        plan_s = self._plan_s(df)
        py = self._python_metrics(df)
        streams = self.stream_events[n_stream:]
        collect_s = t_end - span_hi if coll["spans"] else 0.0
        wall = t_end - t0
        if coll["spans"]:
            self._span("collect.deliver", span_hi, t_end, parent=op_idx)
        m = {
            "io.load_calls": self._counts["load"],
            "io.load_s": self._load_s,
            "io.configure_calls": self._counts["configure"],
            "build_s": t_build - t0,
            "build.py4j_calls": self._counts["py4j"],
            "build.jobs": len(build["spans"]),
            "build.job_s": sum(e - s for s, e in build["spans"]),
            "plan_s": plan_s,
            "exec.jobs": len(coll["spans"]),
            "exec.stages": build["stages"] + coll["stages"],
            "exec.tasks": build["tasks"] + coll["tasks"],
            "exec.job_span_s": job_span,
            "exec.task_run_s": build["run_s"] + coll["run_s"],
            "exec.task_cpu_s": build["cpu_s"] + coll["cpu_s"],
            "exec.failed_tasks": build["failed"] + coll["failed"],
            "shuffle.write_bytes": build["sw"] + coll["sw"],
            "shuffle.read_bytes": build["sr"] + coll["sr"],
            "shuffle.spill_bytes": build["spill"] + coll["spill"],
            "py.init_s": py["pythonInitTime"] / 1e3,
            "py.run_s": py["pythonTotalTime"] / 1e3,
            "py.bytes_sent": py["pythonDataSent"],
            "py.bytes_received": py["pythonDataReceived"],
            "collect.rows": len(rows),
            "collect.s": collect_s,
            "stream.batches": len(streams),
            "stream.input_rows": sum(s[1] for s in streams),
            # parts of ratios, combined per pass
            "_collect_task_run_s": coll["run_s"],
            "_read_bytes": build["input"] + coll["input"],
            "_stream_batch_s": [s[2] for s in streams],
            "_wall_s": wall,
        }
        accounted = m["build_s"] + plan_s + job_span + collect_s
        self.spans[op_idx].update(
            {k: v for k, v in m.items() if not k.startswith("_")},
            reconcile_err=_ratio(abs(wall - accounted), wall))
        return list(df.columns), rows, wall, m

    def _jobs(self, store, ids, parent: int, phase: str) -> dict:
        out = {"spans": [], "stages": 0, "tasks": 0, "run_s": 0.0,
               "cpu_s": 0.0, "failed": 0, "sw": 0, "sr": 0, "spill": 0,
               "input": 0}
        seen = set()
        for jid in ids:
            try:
                job = store.job(jid)
            except Exception:  # evicted or never registered: nothing to add
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                s, e = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                out["spans"].append((s, e))
                self._span("job", s, e, parent=parent, job=jid, phase=phase)
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["failed"] += st.numFailedTasks()
                out["sw"] += st.shuffleWriteBytes()
                out["sr"] += st.shuffleReadBytes()
                out["spill"] += st.diskBytesSpilled()
                out["input"] += st.inputBytes()
        return out

    @staticmethod
    def _plan_s(df) -> float:
        """Optimization + physical planning of the collected query, from its
        phase tracker (analysis already ran while the DataFrame was built)."""
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0
        for name in ("optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                total += p.get().durationMs()
        return total / 1e3

    @staticmethod
    def _python_metrics(df) -> dict[str, float]:
        """Sum the python* SQL metrics over the executed plan, unwrapping
        adaptive plans and query stages."""
        sums = dict.fromkeys(_PY_METRICS, 0)
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if "Python" in cls or "Arrow" in cls:
                metrics = node.metrics()
                for name in _PY_METRICS:
                    m = metrics.get(name)
                    if m.isDefined():
                        sums[name] += m.get().value()
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
        return sums

    def snapshot(self) -> dict[str, tuple[int, int]]:
        """(mtime, size) of every file under the write root."""
        out = {}
        for base, _, names in os.walk(self.write_root):
            for n in names:
                p = os.path.join(base, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_mtime_ns, st.st_size)
        return out

    def written(self, before: dict, since: float) -> tuple[int, int]:
        """(files, bytes) created or rewritten under the write root since
        ``before`` was taken at ``since``."""
        files = nbytes = 0
        cut = int(since * 1e9)
        for p, (mtime, size) in self.snapshot().items():
            if mtime >= cut and before.get(p) != (mtime, size):
                files += 1
                nbytes += size
        return files, nbytes

    # -- reporting --------------------------------------------------------

    def pass_totals(self, per_key: list[dict],
                    written: tuple[int, int]) -> dict[str, float]:
        """Sum one traced pass's per-key numbers, add the pass's written
        (files, bytes), and form its ratios."""
        # zeros first, so a pass whose keys all raised still has every sum
        tot: dict[str, float] = dict.fromkeys(
            ("build_s", "plan_s", "exec.job_span_s", "collect.s", "py.run_s",
             "py.init_s", "_collect_task_run_s", "_read_bytes", "_wall_s"),
            0.0)
        tot.update({"write.files": written[0], "write.bytes": written[1]})
        for m in per_key:
            for k, v in m.items():
                if not k.startswith("_stream"):
                    tot[k] = tot.get(k, 0) + v
        batch_s = [s for m in per_key for s in m["_stream_batch_s"]]
        tot["stream.batch_p50_s"] = statistics.median(batch_s) if batch_s else 0.0
        tot["exec.busy_frac"] = _ratio(tot.pop("_collect_task_run_s"),
                                       self.cores * tot["exec.job_span_s"])
        tot["py.useful_frac"] = _ratio(tot["py.run_s"],
                                       tot["py.init_s"] + tot["py.run_s"])
        tot["write.amp"] = _ratio(tot["write.bytes"], tot.pop("_read_bytes"))
        wall = tot.pop("_wall_s")
        accounted = (tot["build_s"] + tot["plan_s"] + tot["exec.job_span_s"]
                     + tot["collect.s"])
        tot["trace.reconcile_err"] = _ratio(abs(wall - accounted), wall)
        return tot

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
