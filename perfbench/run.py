#!/usr/bin/env python3
"""Same-box CDC merge benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 15 --trace 0

Run from the root of a checkout holding the engine package. The run:

1. sizes a ``local[N]`` session to the machine (N = usable CPUs, driver
   heap below physical RAM) and keeps every file it writes — inputs,
   targets, checkpoints, Spark scratch and event logs — in one
   workspace under the checkout, removed on exit;
2. sets the workload up several times from the seed (generation and
   preload) and takes the median, after one session start;
3. runs an untimed warm-up batch, then closed-loop batches
   (land one window, merge it, read hot keys twice) for ``--seconds``;
4. checks the final target, every read and every reported watermark
   against the DuckDB oracle, outside the timed phase;
5. prints a readable summary and, as the last line, one JSON object:
   the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``), or its
   per-layer metrics (``--trace 1``) from spans around each engine call
   and Spark's event log. Batch and read costs are work CPU seconds
   (``work_cpu_s``); their wall-clock latencies go in the summary line.

Exits non-zero without a result when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WARMUP_BATCHES = 1
#: untimed reads after the warm-up batch, so the read path is compiled too
WARMUP_READS = 2
#: timed reads after each timed batch: a read is a tenth of a batch, so
#: more read samples cost few batch samples
READS_PER_BATCH = 2
#: samples beyond a reported tail percentile
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float | None, float]:
    """(value, percentile) of the highest percentile with TAIL_BEYOND
    samples beyond it; no value when the sample is too small."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None, 0.0
    q = 100.0 * (n - TAIL_BEYOND) / n
    return sorted(values)[n - TAIL_BEYOND - 1], q


def ram_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def size_session(ws: str) -> dict[str, str]:
    """Environment and Spark conf that fit the session to this machine and
    keep its scratch files in the workspace."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(f"{ws}/{d}")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=f"{max(1, min(4, int(ram_gb() // 4)))}g",
        SPARK_LOCAL_DIRS=f"{ws}/local",
        TMPDIR=f"{ws}/tmp",
    )
    tempfile.tempdir = None
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{ws}/local",
        "spark.sql.warehouse.dir": f"{ws}/warehouse",
        # C1 only: a run's JVM lives about a minute, and C2 is still
        # recompiling the engine's paths when it ends, so the work CPU of
        # a batch kept falling through the timed phase and the quartile
        # spread of batch_cpu_s over ten seeds was 0.30 on trickle; with
        # C1 alone it levels off before timing starts (0.04 on a calm box). A
        # compiler thread that exits takes its CPU time out of /proc's
        # per-thread view, so all are kept for the JVM's lifetime.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ws}/tmp -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads",
    }


def machine() -> dict:
    import platform

    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(ram_gb(), 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
    }


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


#: HotSpot's JIT compiler threads and code-cache sweeper, as /proc shows
#: their names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT threads. The session keeps them alive
    for the JVM's lifetime, so none of their time is lost."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:  # exited meanwhile
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every process below
    it: the Spark JVM and any worker it forks, reaped children included."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # fields after "(comm)": state ppid … utime stime cutime cstime
                    stats[int(entry)] = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited meanwhile
                pass
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += sum(int(x) for x in stats[pid][11:15])
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def work_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """(work, JIT) CPU seconds so far. Work is the benchmark's process tree
    less the JVM's JIT compiler threads.

    Time the hypervisor or other tenants take from the machine lengthens a
    batch's wall time but not its CPU time. The JIT compiler threads are
    left out: they compile in the background, for whichever call happens
    to be running; their time is reported on its own."""
    jit = jit_cpu_s(jvm_pid)
    return tree_cpu_s() - jit, jit


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Run:
    def __init__(self, args, ws: str):
        self.args = args
        self.ws = ws
        self.batch_s: list[float] = []
        self.read_s: list[float] = []
        self.warmup_s: list[float] = []
        self.batch_cpu_s: list[float] = []
        self.read_cpu_s: list[float] = []
        self.batch_jit_s: list[float] = []
        self.spark = None
        self.events = 0
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.per_batch: dict[int, dict] = {}

    def go(self) -> dict:
        from spans import Tracer

        args = self.args
        conf = size_session(self.ws)
        if args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.ws}/eventlog",
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        from dataplatform_cdc_pipeline_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        try:
            self.tracer = Tracer(bool(args.trace))
            return self._drive(self.spark, session_s)
        finally:
            self.stop()

    def stop(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    def _drive(self, spark, session_s: float) -> dict:
        from workloads import WORKLOADS, files_under

        args, tr = self.args, self.tracer
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        wl = WORKLOADS[args.workload](spark, args.seed, tr)
        setup_s = []
        for r in range(SETUP_REPS):
            if r:
                shutil.rmtree(f"{self.ws}/setup-{r - 1}")
            t = time.perf_counter()
            wl.setup(f"{self.ws}/setup-{r}")
            setup_s.append(time.perf_counter() - t)
        for _ in range(WARMUP_BATCHES):
            wl.land()
            t = time.perf_counter()
            wl.batch()
            self.warmup_s.append(time.perf_counter() - t)
            for _ in range(WARMUP_READS):
                wl.read()

        ticks0 = cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            b = len(wl.landed)
            tr.batch = b
            n = wl.land()
            if args.trace:
                wl.probe()
                before = files_under(wl.target.path)
            self.attempted += 1
            try:
                with tr.span("batch"):
                    t, (c, j) = time.perf_counter(), work_cpu_s(jvm_pid)
                    wl.batch()
                    self.batch_s.append(time.perf_counter() - t)
                    c1, j1 = work_cpu_s(jvm_pid)
                    self.batch_cpu_s.append(round(c1 - c, 3))
                    self.batch_jit_s.append(round(j1 - j, 3))
            except Exception as exc:  # a failed batch ends the run; the oracle cannot model it
                self.failed += 1
                self.notes.append(f"batch {b} raised {type(exc).__name__}: {exc}"[:500])
                break
            self.events += n
            if args.trace:
                after = files_under(wl.target.path)
                new = [f for f, size in after.items() if before.get(f) != size]
                self.per_batch[b] = {
                    "phase_times": dict(wl.target.phase_times),
                    "new_files": len(new),
                    "buckets_rewritten": len({f.split(os.sep)[0] for f in new}),
                    "bytes_written": sum(after[f] for f in new),
                    "rows_rewritten": wl.rows_in(new),
                    "change_rows": wl.merged,
                    "progress": getattr(wl, "progress", None),
                    "jit_cpu_s": self.batch_jit_s[-1],
                }
            for _ in range(READS_PER_BATCH):
                self.attempted += 1
                t, (c, _) = time.perf_counter(), work_cpu_s(jvm_pid)
                wl.read()
                self.read_s.append(time.perf_counter() - t)
                self.read_cpu_s.append(round(work_cpu_s(jvm_pid)[0] - c, 3))
        tr.batch = None
        rss = peak_rss_mb(jvm_pid)
        # share of CPU time the hypervisor gave to others while timing
        dt = [b - a for a, b in zip(ticks0, cpu_ticks())]
        steal = dt[7] / max(sum(dt), 1)

        # -- oracle, outside the timed phase ----------------------------------
        from oracle import Oracle

        actual = wl.target.read().toArrow()
        oracle = Oracle(wl.feed.events, wl.landed, wl.watermark)
        correct = not self.failed
        if not self.failed:
            bad_rows = oracle.table_mismatches(actual)
            bad_reads = oracle.read_mismatches(wl.reads)
            bad_wm = sum(
                r is not None and r != e for r, e in zip(wl.reported_wm, oracle.watermarks)
            )
            if bad_rows or bad_reads or bad_wm:
                correct = False
                self.failed += bad_reads + (1 if bad_rows or bad_wm else 0)
                self.notes.append(
                    f"oracle: {bad_rows} row mismatches, {bad_reads} bad reads, {bad_wm} bad watermarks"
                )
        stored = sum(files_under(wl.target.path).values()) / max(actual.num_rows, 1)
        audit_files = wl.audit_files()
        self.stop()  # flushes the event log

        e2e = {
            "setup_s": session_s + statistics.median(setup_s),
            "events_per_cpu_s": self.events / sum(self.batch_cpu_s) if self.batch_cpu_s else 0.0,
            "batch_cpu_s": _median(self.batch_cpu_s),
            "read_cpu_s": _median(self.read_cpu_s),
            "stored_bytes_per_row": stored,
        }
        # wall-clock latency: reported, not bounded (it follows the
        # machine's other tenants; see README)
        wall = {
            "events_per_s": self.events / sum(self.batch_s) if self.batch_s else 0.0,
            "batch_p50_s": _median(self.batch_s),
            "batch_tail": tail(self.batch_s),
            "read_p50_s": _median(self.read_s),
            "read_tail": tail(self.read_s),
        }
        self.info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "session_s": session_s,
            "setup_reps_s": setup_s,
            "warmup_batch_s": self.warmup_s,
            "batch_s": self.batch_s,
            "batch_cpu_s": self.batch_cpu_s,
            "read_s": self.read_s,
            "read_cpu_s": self.read_cpu_s,
            "batch_jit_s": self.batch_jit_s,
            "cpu_steal_share": steal,
            "wall": wall,
            "failed_ratio": self.failed / max(self.attempted, 1),
            "target_rows": actual.num_rows,
            "machine": machine(),
            "notes": self.notes,
            "end_to_end": e2e,
        }
        if not args.trace:
            return {"correct": correct, "metrics": e2e}
        from spans import attribute, read_event_log

        jobs, execs = read_event_log(f"{self.ws}/eventlog")
        attribute(tr.spans, jobs, execs)
        layers = per_layer(tr.spans, self.per_batch, oracle, audit_files, rss)
        os.makedirs(f"{HERE}/traces", exist_ok=True)
        tr.dump(
            f"{HERE}/traces/{args.workload}.json",
            {"per_batch": self.per_batch, "info": self.info, "end_to_end": e2e, "per_layer": layers},
        )
        return {"correct": correct, "metrics": layers}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(spans, per_batch, oracle, audit_files: int, rss_mb: float) -> dict[str, float]:
    """Per-layer metrics of the timed batches, as medians over batches.

    Layers inside a batch are read from the batch span's subtree; the
    traced run's probes and the read after the batch are spans of their
    own, outside it. A layer a workload never calls reads 0.
    """
    from spans import duration, self_times, spark_total, subtree

    selfs = self_times(spans)
    rows: dict[str, list[float]] = {}
    for b, rec in per_batch.items():
        root = next(s for s in spans if s["batch"] == b and s["name"] == "batch")
        inside = subtree(spans, root)
        beside = [s for s in spans if s["batch"] == b and s["parent"] is None and s is not root]

        def of(group, name, key=duration):
            return sum(key(s) for s in group if s["name"] == name)

        def self_s(s):
            return selfs[s["id"]]

        def jobs(s):
            return s["spark_self"]["jobs"]

        def files(s):
            return s["files_read"]

        phases = rec["phase_times"]
        merge = of(inside, "operators.merge_target.merge")
        scan = of(beside, "plans.merge_plan.window_scan")
        progress = (rec["progress"] or {}).get("durationMs", {})
        trigger = progress.get("triggerExecution", 0) / 1000
        add_batch = progress.get("addBatch", 0) / 1000
        stream = "streaming.stream_merge.run_streaming_merge"
        read = "operators.merge_target.read"
        values = {
            "trace.batch_s": duration(root),
            "trace.unaccounted_s": selfs[root["id"]],
            "engine.run_merge_s": of(inside, "engine.run_merge"),
            "engine.self_s": of(inside, "engine.run_merge", self_s),
            "engine.self_jobs": of(inside, "engine.run_merge", jobs),
            "plans.merge_plan.window_scan_s": scan,
            "plans.merge_plan.build_changes_self_s": of(beside, "plans.merge_plan.build_changes") - scan,
            "plans.merge_plan.rows_in_window": oracle.window_rows[b],
            "plans.merge_plan.change_rows": rec["change_rows"],
            "plans.merge_plan.dedup_ratio": rec["change_rows"] / max(oracle.window_rows[b], 1),
            "plans.merge_plan.bronze_files_read": of(beside, "plans.merge_plan.window_scan", files),
            "plans.merge_plan.bronze_files_in_window": oracle.window_files[b],
            "operators.merge_target.merge_s": merge,
            "operators.merge_target.changes_s": phases.get("changes", 0.0),
            "operators.merge_target.resolve_write_s": phases.get("resolve_write", 0.0),
            "operators.merge_target.swap_s": phases.get("swap", 0.0),
            "operators.merge_target.other_s": merge - sum(phases.values()),
            "operators.merge_target.self_jobs": of(inside, "operators.merge_target.merge", jobs),
            "operators.merge_target.buckets_rewritten": rec["buckets_rewritten"],
            "operators.merge_target.bytes_written_per_batch": rec["bytes_written"],
            "operators.merge_target.rows_rewritten_per_change_row": rec["rows_rewritten"]
            / max(rec["change_rows"], 1),
            "operators.merge_target.read_s": of(beside, read) / READS_PER_BATCH,
            "operators.merge_target.read_files_scanned": of(beside, read, files) / READS_PER_BATCH,
            "operators.watermark.read_watermark_s": of(inside, "operators.watermark.read_watermark"),
            "operators.watermark.append_s": of(inside, "operators.watermark.append_run")
            + of(inside, "operators.watermark.append_job_log"),
            "streaming.stream_merge.trigger_s": trigger,
            "streaming.stream_merge.add_batch_s": add_batch,
            "streaming.stream_merge.overhead_s": trigger - add_batch,
            "streaming.stream_merge.self_s": of(inside, stream, self_s),
            "streaming.stream_merge.self_jobs": of(inside, stream, jobs),
            "sources.debezium.normalize_s": of(beside, "sources.debezium.normalize"),
            **{f"spark.{k}": v for k, v in spark_total(inside).items()},
            "spark.jit_cpu_s": rec["jit_cpu_s"],
        }
        for k, v in values.items():
            rows.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in rows.items()}
    out["operators.watermark.audit_files"] = audit_files
    out["spark.peak_rss_mb"] = rss_mb
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    engine_dir = os.path.join(ROOT, "dataplatform_cdc_pipeline_spark")
    if not os.path.isfile(os.path.join(engine_dir, "engine.py")):
        print(f"perfbench: no engine package at {engine_dir}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # a terminated run still stops its JVM and removes its workspace
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(f"{ROOT}/.perfbench_work", exist_ok=True)
    ws = tempfile.mkdtemp(prefix="run-", dir=f"{ROOT}/.perfbench_work")
    try:
        run = Run(args, ws)
        out = run.go()
    finally:
        shutil.rmtree(ws, ignore_errors=True)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = out["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps(run.info, default=str))
    for m in declared:
        print(f"  {m['name']:<52} {metrics[m['name']]:>14.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": out["correct"],
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
