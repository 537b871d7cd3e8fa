"""Outside-in tracing and /proc sampling for the benchmark.

Nothing here edits the program. In a traced run the benchmark wraps
the public functions of each layer from this file, counts py4j sends,
reads Spark's status store for the jobs and stages that started
inside each op's window, and listens to streaming progress. Spans
stay in memory and are written out when the run ends.

``ProcSampler`` is used by untraced runs too: it reads CPU time, peak
RSS and bytes written for the JVM and its Python workers from
``/proc``, which costs the program nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024

#: (module, attribute, span name). The attribute is replaced where
#: callers look it up at call time: ``run_pipeline`` reads
#: ``normalize_workbook`` and ``semantic_map`` from its own module
#: globals, and ``read_workbook`` reads the two ``sources.workbook``
#: functions from that module.
WRAPPED = [
    ("epe_data_wrangling_spark.sources.workbook", "read_workbook_grids", "sources.parse"),
    ("epe_data_wrangling_spark.sources.workbook", "grid_to_df", "sources.to_df"),
    ("epe_data_wrangling_spark.plans.epe_pipeline", "normalize_workbook", "plans.normalize"),
    ("epe_data_wrangling_spark.plans.epe_pipeline", "semantic_map", "plans.semantic"),
    ("epe_data_wrangling_spark.plans.epe_pipeline", "run_pipeline", "plans.pipeline"),
    ("epe_data_wrangling_spark.plans.epe_pipeline", "write_fact", "plans.write_fact"),
    ("epe_data_wrangling_spark.streaming.epe_monthly", "epe_monthly_refresh", "streaming.refresh"),
]


# ------------------------------------------------------------ /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class ProcSampler:
    """CPU seconds of the JVM tree (with reaped Python workers) plus
    the Python driver, the JVM's peak RSS and its bytes written."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        ticks = 0
        for p in descendants(self.jvm_pid):
            fields = _stat_fields(p)
            if fields:
                # utime, stime, cutime, cstime: fields 14-17 of stat
                ticks += sum(int(x) for x in fields[11:15])
        t = os.times()
        return ticks / CLK_TCK + t.user + t.system

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM in /proc status")

    def write_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/io") as f:
            for line in f:
                if line.startswith("wchar:"):
                    return int(line.split()[1]) / MB
        raise RuntimeError("no wchar in /proc io")


# ------------------------------------------------------------ tracer


class Tracer:
    """Per-op spans and counters. ``enabled`` is on only inside op
    windows, so checks between ops are not recorded."""

    def __init__(self, spark, sampler: ProcSampler):
        self.spark = spark
        self.sampler = sampler
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.py4j_calls = 0
        self.progress: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self._seen_stages: set[int] = set()
        self._last_job = -1
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._listener = None

    # -- installation -------------------------------------------------

    def install(self) -> None:
        import importlib

        from py4j.java_gateway import GatewayClient
        from pyspark.sql.streaming import StreamingQueryListener

        for mod_name, attr, span in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._restore.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, span))

        send = GatewayClient.send_command
        self._restore.append((GatewayClient, "send_command", send))
        tracer = self

        def counted_send(client, *args, **kwargs):
            if tracer.enabled:
                tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counted_send

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {"batch": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = {
                "name": name,
                "op": len(tracer.ops),
                "parent": tracer._stack[-1] if tracer._stack else None,
                "start": time.perf_counter(),
            }
            tracer._stack.append(len(tracer.spans))
            tracer.spans.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                span["end"] = time.perf_counter()

        traced.__wrapped__ = fn
        return traced

    # -- per-op window ------------------------------------------------

    def op(self, run_op) -> float:
        """Run one op traced and return its wall seconds. Status-store
        reads happen before and after the window."""
        self._skip_to_now()
        self.progress.clear()
        calls0 = self.py4j_calls
        cpu0 = os.times()
        wchar0 = self.sampler.write_mb()
        epoch0 = time.time()
        self.enabled = True
        t0 = time.perf_counter()
        try:
            run_op()
        finally:
            wall = time.perf_counter() - t0
            self.enabled = False
            epoch1 = time.time()
            cpu1 = os.times()
            rec = dict(
                wall_s=wall,
                py_cpu_s=(cpu1.user - cpu0.user) + (cpu1.system - cpu0.system),
                write_mb=self.sampler.write_mb() - wchar0,
                py4j_calls=self.py4j_calls - calls0,
            )
            self._bus.waitUntilEmpty()
            rec["progress"] = list(self.progress)
            rec.update(self._spark_delta(epoch0, epoch1, wall))
            self.ops.append(rec)
        return wall

    def _new_jobs(self) -> list:
        """JobData of every job newer than the last one seen."""
        seq = self._store.jobsList(None)  # newest first
        new = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= self._last_job:
                break
            new.append(j)
        if new:
            self._last_job = new[0].jobId()
        return new

    def _skip_to_now(self) -> None:
        for j in self._new_jobs():
            ids = j.stageIds()
            self._seen_stages.update(ids.apply(i) for i in range(ids.size()))

    def _spark_delta(self, epoch0: float, epoch1: float, wall: float) -> dict:
        """Jobs and stages submitted inside [epoch0, epoch1]. Deltas,
        not job groups: a stream's micro-batch jobs run under the
        stream's own group."""
        lo, hi = int(epoch0 * 1000), int(epoch1 * 1000) + 1
        jobs = 0
        stage_ids = []
        for j in self._new_jobs():
            sub = j.submissionTime()
            if sub.isDefined() and lo <= sub.get().getTime() <= hi:
                jobs += 1
            ids = j.stageIds()
            stage_ids += [ids.apply(i) for i in range(ids.size())]
        tot = dict(stages=0, tasks=0, task_cpu_s=0.0, task_run_s=0.0, shuffle_read_mb=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0, gc_s=0.0)
        busy = []
        for sid in sorted(set(stage_ids) - self._seen_stages):
            self._seen_stages.add(sid)
            s = self._store.lastStageAttempt(sid)
            sub = s.submissionTime()
            if not sub.isDefined():
                continue  # skipped: its output came from an earlier stage
            start = sub.get().getTime()
            done = s.completionTime()
            end = done.get().getTime() if done.isDefined() else hi
            busy.append((max(start, lo), min(end, hi)))
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks()
            tot["task_cpu_s"] += s.executorCpuTime() / 1e9
            tot["task_run_s"] += s.executorRunTime() / 1e3
            tot["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            tot["gc_s"] += s.jvmGcTime() / 1e3
        covered, cur_end = 0, lo
        for start, end in sorted(busy):
            start = max(start, cur_end)
            if end > start:
                covered += end - start
                cur_end = end
        cores = self.spark.sparkContext.defaultParallelism
        tot.update(
            jobs=jobs,
            no_stage_s=max(0.0, wall - covered / 1000),
            utilization=tot["task_cpu_s"] / (wall * cores),
        )
        return tot

    # -- reporting ----------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """Per-op medians (0 for a run whose ops all raised)."""

        def med(per_op):
            values = list(per_op)
            return statistics.median(values) if values else 0.0

        def span_s(name):
            per_op = [0.0] * len(self.ops)
            for s in self.spans:
                if s["name"] == name and s["op"] < len(per_op):
                    per_op[s["op"]] += s["end"] - s["start"]
            return med(per_op)

        def field(key):
            return med(r[key] for r in self.ops)

        def progress(key):
            return med(sum(p["ms"].get(key, 0) for p in r["progress"]) / 1e3 for r in self.ops)

        out = {f"{name}_s": span_s(name) for _, _, name in WRAPPED}
        out.update({
            "driver.py4j_calls": field("py4j_calls"),
            "driver.py_cpu_s": field("py_cpu_s"),
            "driver.no_stage_s": field("no_stage_s"),
            "io.write_mb": field("write_mb"),
            "streaming.batches": med(
                sum("addBatch" in p["ms"] for p in r["progress"]) for r in self.ops
            ),
            "streaming.trigger_s": progress("triggerExecution"),
            "streaming.add_batch_s": progress("addBatch"),
            "streaming.wal_commit_s": progress("walCommit"),
        })
        for key in ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "shuffle_read_mb",
                    "shuffle_write_mb", "spill_mb", "gc_s", "utilization"):
            out[f"spark.{key}"] = field(key)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f, indent=1, default=str)
