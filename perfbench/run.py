#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload gdp_release --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process is one closed-loop
client: it sets up a ``local[k]`` session (k = min(4, nproc), k shuffle
partitions) and runs the workload's registered queries back to back,
in an order the seed permutes each pass. Pass 0 is untimed and collects
every result to compare its digest with ``expected_digests.json``; two
more untimed passes follow, then the timed passes: ``--seconds`` divided
by the workload's ``SECONDS_PER_PASS`` (at least three), a count fixed
before the run so that every run of a workload times the same passes.
``--trace 1`` wraps the program's layers (see ``layers.py``) and reports
per-layer metrics instead of the end-to-end ones.

Every run writes a ledger to ``perfbench/out/`` and prints, as the last
stdout line, ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

import helpers
from workloads import CSV_SINK, SECONDS_PER_PASS, WORKLOADS, all_queries

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
# untimed passes after the checked pass 0; a 13-pass probe of gdp_release
# on local[4] fell 7.0 -> 6.3 s over passes 1-2, then drifted from 5.2 s
# (passes 3-6) to 4.8 s (passes 7-13) inside +-10 % pass-to-pass noise
WARMUP_PASSES = 2
MIN_TIMED_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "ok_frac": "frac",
}

LAYER_UNITS = {
    "session.cold_pass_s": "s",
    "traced.pass_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "io.load_calls": "count",
    "io.load_s": "s",
    "io.load_jobs": "count",
    "io.write_s": "s",
    "io.write_bytes": "bytes",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "kmeans.train_calls": "count",
    "kmeans.train_s": "s",
    "kmeans.train_jobs": "count",
    "ann_index.write_s": "s",
    "ann_index.probe_s": "s",
    "text_ops.s": "s",
    "text_ops.jobs": "count",
}
LAYER_UNITS.update({f"query.{q}_s": "s" for q in all_queries()})


def process_age_s():
    """Seconds since this process started, from the kernel's clock."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / helpers.clock_ticks_per_second()


def steal_s():
    """CPU time the hypervisor gave to others since boot, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / helpers.clock_ticks_per_second()


def loadavg_1m():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def source_sha256():
    """Digest of the program's sources, which identifies the code when
    the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha256()
    files = [ROOT / "__spark_entry__.py", *sorted((ROOT / "gdp_etl_spark").rglob("*.py"))]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit():
    try:
        top = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=20,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = top.stdout.split()
    if top.returncode != 0 or len(lines) != 2 or Path(lines[0]) != ROOT:
        return None
    return lines[1]


def dir_bytes(path, since=None):
    """Bytes of the files under ``path`` (modified at or after ``since``)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(dirpath, name))
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


class Run:
    def __init__(self, args, run_dir, expected):
        self.args = args
        self.run_dir = run_dir
        self.expected = expected
        self.names = WORKLOADS[args.workload]
        self.spark = None
        self.tracer = None
        self.sf_dir = None
        self.k = None
        self.attempted = 0
        self.ok = 0
        self.errors = []
        self.checks = {}
        self.samples = {n: [] for n in self.names}
        self.warmup_walls = []
        self.pass_walls = []
        self.pass_counts = []
        self._sink_seq = 0

    # ----------------------------------------------------------- set-up

    def setup(self):
        """Import the program, start the session and warm the Python
        workers; returns process start to ready session in seconds."""
        sys.path.insert(0, str(ROOT))
        import __spark_entry__

        from gdp_etl_spark import io
        from gdp_etl_spark.session import get_spark

        self.entry = __spark_entry__
        self.queries = __spark_entry__.queries()
        self.io = io
        k = min(4, len(os.sched_getaffinity(0)))
        java_opts = " ".join([
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={self.run_dir / 'tmp'}",
            "-XX:-UsePerfData",
            # compile hot code at a tenth of HotSpot's default counts, which
            # shortens the JIT slope; the program's own sessions run with
            # HotSpot's defaults
            "-XX:CompileThresholdScaling=0.1",
        ])
        self.spark = get_spark(
            "perfbench",
            master=f"local[{k}]",
            shuffle_partitions=k,
            extra_conf={
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.local.dir": str(self.run_dir / "local"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.k = k
        self._warm_python_workers()
        return process_age_s()

    def _warm_python_workers(self):
        """Start the Python workers (pyarrow imported) with one Arrow pass."""

        def ident(batches):
            yield from batches

        (
            self.spark.range(self.k * 10)
            .repartition(self.k)
            .mapInArrow(ident, "id long")
            .write.format("noop").mode("overwrite").save()
        )

    # ----------------------------------------------------------- queries

    def _sink(self, name, df):
        if name not in CSV_SINK:
            df.write.format("noop").mode("overwrite").save()
            return
        self._sink_seq += 1
        path = self.run_dir / "sink" / f"{name}-{self._sink_seq}"
        if self.tracer:
            with self.tracer.scope("io.write_csv"):
                self.io.write_single_csv(df, str(path))
            self.tracer.counts["io.write_bytes"] += dir_bytes(path)
        else:
            self.io.write_single_csv(df, str(path))

    def run_query(self, name, check):
        """One execution: build, then sink (or collect and check).
        Returns its wall seconds, or None if it failed."""
        tr = self.tracer
        self.attempted += 1
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            fn = self.queries[name]
            if tr:
                with tr.scope("build"):
                    df = fn(self.spark, self.sf_dir)
                tr.catalyst_phases(df)
            else:
                df = fn(self.spark, self.sf_dir)
            if check:
                rows = [tuple(r) for r in df.collect()]
                digest, n = helpers.digest_rows(df.columns, rows)
                want = self.expected[name]
                match = digest == want["digest"]
                self.checks[name] = {
                    "digest": digest,
                    "rows": n,
                    "match": match,
                    "expected_rows": want["rows"],
                }
                if not match:
                    self.errors.append(f"{name}: digest mismatch ({n} rows, want {want['rows']})")
                    return None
            elif tr:
                with tr.scope("exec") as frame:
                    self._sink(name, df)
                tr.stage_metrics(frame["jobs"])
            else:
                self._sink(name, df)
        except Exception as ex:  # a failed query is counted, never fatal
            self.errors.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        shutil.rmtree(self.run_dir / "sink", ignore_errors=True)
        if tr:
            wh = self.run_dir / "warehouse"
            if wh.exists():
                tr.counts["io.write_bytes"] += dir_bytes(wh, since=wall0)
        self.ok += 1
        return dt

    def run_pass(self, index, check=False, timed=False):
        cpu0 = self.tracer.cpu_snapshot() if self.tracer else None
        t0 = time.perf_counter()
        for name in helpers.pass_order(self.names, self.args.seed, index):
            dt = self.run_query(name, check)
            if timed and dt is not None:
                self.samples[name].append(dt)
        wall = time.perf_counter() - t0
        if self.tracer:
            counts = self.tracer.take_pass()
            cpu1 = self.tracer.cpu_snapshot()
            for cls in ("driver", "jvm", "pyworker"):
                counts[f"cpu.{cls}_s"] = cpu1.get(cls, 0.0) - cpu0.get(cls, 0.0)
            if timed:
                self.pass_counts.append(counts)
        return wall

    # --------------------------------------------------------------- run

    def execute(self):
        setup_s = self.setup()
        self.sf_dir = self.io.DEFAULT_SF_DIR
        if self.args.trace:
            from layers import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install_program_layers(self.entry)
        cold = self.run_pass(0, check=True)
        self.warmup_walls = [self.run_pass(i) for i in range(1, 1 + WARMUP_PASSES)]
        budget = self.args.seconds / SECONDS_PER_PASS[self.args.workload]
        n_timed = max(MIN_TIMED_PASSES, round(budget))
        first = 1 + WARMUP_PASSES
        self.pass_walls = [self.run_pass(i, timed=True) for i in range(first, first + n_timed)]
        return setup_s, cold

    def metrics(self, setup_s, cold):
        medians = {n: helpers.median(s) for n, s in self.samples.items() if s}
        pass_s = sum(medians.values())
        geo = helpers.geomean(list(medians.values())) if medians else 0.0
        if not self.args.trace:
            values = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "query_geomean_s": geo,
                "ok_frac": self.ok / self.attempted,
            }
            units = END_TO_END
        else:
            per_pass = {}
            for counts in self.pass_counts:
                counts["io.write_s"] = counts.get("io.write_csv_s", 0.0) + counts.get(
                    "ann_index.write_s", 0.0
                )
                for key, v in counts.items():
                    per_pass.setdefault(key, []).append(v)
            values = {
                name: helpers.median(per_pass.get(name) or [0.0]) for name in LAYER_UNITS
            }
            values["session.cold_pass_s"] = cold
            values["traced.pass_s"] = pass_s
            for q in all_queries():
                values[f"query.{q}_s"] = medians.get(q, 0.0)
            units = LAYER_UNITS
        return {k: {"value": values[k], "unit": units[k]} for k in units}, medians


def versions(spark):
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def stop_spark(spark):
    """Stop the session and the JVM it launched, and wait until the JVM
    and the Python workers it started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    table = helpers.read_proc_table()
    children = [p for p in table if helpers.is_descendant(p, os.getpid(), table)]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    helpers.wait_gone(children, timeout=30)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None):
    load_start, steal_start = loadavg_1m(), steal_s()
    args = parse_args(argv)
    missing = [
        p for p in (ROOT / "__spark_entry__.py", ROOT / "gdp_etl_spark", BENCH_DIR / "expected_digests.json")
        if not p.exists()
    ]
    if missing:
        print(f"perfbench: program not found: {', '.join(map(str, missing))}", file=sys.stderr)
        return 2
    expected = json.loads((BENCH_DIR / "expected_digests.json").read_text())
    run_dir = BENCH_DIR / ".run" / f"{os.getpid()}-{time.time_ns()}"
    for sub in ("tmp", "warehouse", "local", "sink"):
        (run_dir / sub).mkdir(parents=True)
    # every temp file of this process, the JVM and the Python workers
    # lands in the run's own directory
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # spark-submit's launcher JVM would otherwise write perf data to the
    # system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None

    run = Run(args, run_dir, expected["queries"])
    try:
        setup_s, cold = run.execute()
        metrics, medians = run.metrics(setup_s, cold)
        info = versions(run.spark)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            (BENCH_DIR / ".run").rmdir()
    failed = run.attempted - run.ok
    ledger = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "local_k": run.k,
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": loadavg_1m(),
            "run_wall_s": process_age_s(),
            "steal_s": steal_s() - steal_start,
            **info,
            "git_commit": git_commit(),
            "source_sha256": source_sha256(),
            "sf": run.sf_dir and os.path.basename(run.sf_dir),
        },
        "protocol": {
            "checked_pass": 0,
            "setup_s": setup_s,
            "cold_pass_s": cold,
            "warmup_pass_walls_s": run.warmup_walls,
            "timed_passes": len(run.pass_walls),
            "timed_pass_walls_s": run.pass_walls,
        },
        "queries": {
            n: {
                "median_s": medians.get(n),
                "max_s": max(run.samples[n]) if run.samples[n] else None,
                "samples": len(run.samples[n]),
                "samples_s": run.samples[n],
                "check": run.checks.get(n),
                "vacuous_check": expected["queries"][n]["rows"] == 0,
            }
            for n in run.names
        },
        "per_pass_layers": run.pass_counts,
        "errors": run.errors,
        "metrics": metrics,
    }
    out = BENCH_DIR / "out"
    out.mkdir(exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    path.write_text(json.dumps(ledger, indent=1, sort_keys=True) + "\n")
    print(f"ledger: {path.relative_to(ROOT)}  run {process_age_s():.1f} s")
    for n in run.names:
        q = ledger["queries"][n]
        print(f"  {n:<20} median {q['median_s'] or 0:8.3f} s  n={q['samples']}")
    for err in run.errors:
        print(f"  error: {err}")
    result = {
        "correct": failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
