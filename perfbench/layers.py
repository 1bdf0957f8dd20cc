"""Layer tracing from outside the program.

The traced run wraps public functions of the program's layers at every
module that imported them, counts the Spark jobs each call launched
through a job group of its own, and reads stage metrics and Catalyst
phase times from Spark's public status APIs. The program's files are
never edited.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import time
from collections import defaultdict

import helpers

JOB_GROUP = "spark.jobGroup.id"


def _program_modules():
    return [
        m
        for name, m in list(sys.modules.items())
        if m is not None
        and (name == "__spark_entry__" or name.startswith("gdp_etl_spark"))
    ]


def public_functions(module):
    """Public functions defined in ``module`` itself (not imported)."""
    return {
        name: fn
        for name, fn in vars(module).items()
        if not name.startswith("_")
        and inspect.isfunction(fn)
        and fn.__module__ == module.__name__
    }


class Tracer:
    """Per-pass layer counters for one Spark session.

    ``scope(layer)`` times a call into a layer and the jobs it launched,
    as ``<layer>.s``/``.calls``/``.jobs`` (``<layer>_s`` etc. when the
    layer name already holds a dot).
    A scope nested in another scope of the same layer adds nothing of its
    own; its jobs are also credited to every enclosing scope, so
    ``build.jobs`` counts the jobs of the loads and trainings inside it.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.counts = defaultdict(float)
        self._stack = []
        self._seq = 0

    # ------------------------------------------------------------ scopes

    @contextlib.contextmanager
    def scope(self, layer):
        self._seq += 1
        gid = f"perfbench:{layer}:{self._seq}"
        prev = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, gid)
        frame = {"layer": layer, "jobs": []}
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield frame
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev)
            frame["jobs"].extend(self.status.getJobIdsForGroup(gid))
            if self._stack:
                self._stack[-1]["jobs"].extend(frame["jobs"])
            if all(f["layer"] != layer for f in self._stack):
                # "build" -> build.s; "io.load" -> io.load_s
                pre = layer + ("_" if "." in layer else ".")
                self.counts[pre + "s"] += dt
                self.counts[pre + "calls"] += 1
                self.counts[pre + "jobs"] += len(frame["jobs"])

    # ---------------------------------------------------------- wrapping

    def wrap(self, module, name, layer):
        """Route every call of ``module.name`` through ``scope(layer)``,
        at each program module that holds the same function object."""
        orig = getattr(module, name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.scope(layer):
                return orig(*args, **kwargs)

        for mod in _program_modules():
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, traced)

    def install_program_layers(self, entry):
        """Wrap the layer entry points the per-layer metrics name."""
        from gdp_etl_spark import io
        from gdp_etl_spark.operators import (
            ann_index,
            dedup,
            kmeans,
            similarity,
            sketches,
        )

        self.wrap(entry, "_t", "io.load")
        self.wrap(io, "load_table", "io.load")
        self.wrap(io, "load_events", "io.load")
        self.wrap(kmeans, "train_kmeans_fixed", "kmeans.train")
        self.wrap(kmeans, "train_pq_codebooks", "kmeans.train")
        for name in public_functions(ann_index):
            if name.startswith(("write_", "append_", "upsert_")):
                self.wrap(ann_index, name, "ann_index.write")
            elif "probe" in name:
                self.wrap(ann_index, name, "ann_index.probe")
        for module in (dedup, similarity, sketches):
            for name in public_functions(module):
                self.wrap(module, name, "text_ops")

    # ----------------------------------------------------- Spark readers

    def catalyst_phases(self, df):
        """Force the physical plan and add Catalyst's phase times (s)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phase = kv._1()
            if phase in ("analysis", "optimization", "planning"):
                self.counts[f"catalyst.{phase}_s"] += kv._2().durationMs() / 1000.0

    def stage_metrics(self, job_ids):
        """Add stage, task, executor-time, shuffle and spill totals of the
        stages the given jobs ran, read from the app status store."""
        jsc = self.sc._jsc.sc()
        with contextlib.suppress(Exception):
            jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        empty_list = self.sc._jvm.java.util.ArrayList()
        empty_q = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stage_ids = set()
        for jid in job_ids:
            info = self.status.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, empty_list, False, empty_q)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                self.counts["exec.stages"] += 1
                self.counts["exec.tasks"] += st.numCompleteTasks()
                self.counts["exec.executor_run_s"] += st.executorRunTime() / 1000.0
                self.counts["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                self.counts["exec.spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )

    # ------------------------------------------------------------- CPU

    def cpu_snapshot(self):
        ticks = helpers.tree_cpu(
            helpers.read_proc_table(), os.getpid(), helpers.spark_class
        )
        hz = helpers.clock_ticks_per_second()
        return {cls: t / hz for cls, t in ticks.items()}

    def take_pass(self):
        """The counters of the pass that just ended; resets them."""
        out = dict(self.counts)
        self.counts.clear()
        return out
