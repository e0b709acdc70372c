"""Repo benchmark: streaming and batch workloads on ``local[nproc / 2]``.

    python3 perfbench/run.py --workload kpi_stream --seed 1 --seconds 20 --trace 0

Runs one workload (or ``all``, each in its own process) from the root
of a checkout and prints, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run also keeps an
uncompressed event log and in-memory spans and reports the per-layer
metrics instead, and runs the traced-only phases (see README.md).
Spans and notes (the load stamp included) are written to
``.perfbench/traces/``.  Every file the run writes stays under
``.perfbench/`` in the checkout; the run's own directory is removed
when it ends.

Exit status: 0 when every output check passed, 1 when one failed,
2 when the checkout does not hold the engine.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("kpi_stream", "batch_relational")
#: longest wait for other processes to go quiet before each measured
#: attempt (bench.py's own default of 600 s would not fit a run's time
#: limit).  bench.py's loadavg start
#: gate would also wait out the tail of this benchmark's own previous
#: run, so it is relaxed to twice the core count
IDLE_WAIT_S = 10.0
#: Spark task slots: half the cores.  The driver JVM's JIT compiler
#: and collector threads, the Python driver and the generator need the
#: rest; with a slot per core a pass over the batch queries was no
#: faster, and a 4-core host's noise moved it more
TASK_SLOTS = max(1, (os.cpu_count() or 1) // 2)
#: period of the storage-status samples behind the ``cache.*`` figures
CACHE_SAMPLE_S = 0.1


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """What a workload needs from the harness: the session, its scratch
    directory, the tracer, CPU accounting and the load stamp."""

    def __init__(self, args, work: str) -> None:
        import bench
        import measure

        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.event_log_dir = os.path.join(work, "eventlog")
        self.tracer = measure.Tracer(
            f"{args.workload}-seed{args.seed}", enabled=self.traced
        )
        self.notes: dict = {}
        self._bench = bench
        self._hz = os.sysconf("SC_CLK_TCK")
        self.spark = None
        self.setup_s = 0.0
        self.cache_peak = [0, 0]

    def start_session(self, workload: str):
        from projetbigdatastreaming_spark.session import get_session

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        with open("/proc/meminfo") as f:
            mem_mb = int(f.readline().split()[1]) // 1024
        # a quarter of the machine, at most 4g: the JVM shares the box
        # with the Python driver and the generator
        heap_mb = min(4096, mem_mb // 4)
        conf = {
            "spark.driver.memory": f"{heap_mb}m",
            # a fixed heap and young generation, the serial collector
            # and the C1 compiler only: with a G1 heap that grows and
            # shrinks (every query starts with a full GC) and with C2's
            # profile-driven recompiles, runs of the same code settled
            # 20-30 % apart and peak RSS followed the heap's growth
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m -Xmn512m"
                " -XX:+UseSerialGC -XX:TieredStopAtLevel=1"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.sql.streaming.minBatchesToRetain": "1000",
        }
        if self.traced:
            os.makedirs(self.event_log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_session(
            app_name=f"perfbench-{workload}",
            master=f"local[{TASK_SLOTS}]",
            shuffle_partitions=TASK_SLOTS,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        if getattr(self, "spark", None) is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def setup_parts(self, seconds: float) -> None:
        self.setup_s += seconds

    def cpu_s(self) -> float:
        """CPU seconds of this process tree (JVM and Python workers
        included, reaped children too)."""
        return self._bench._proc_tree_jiffies() / self._hz

    def measured(self, body) -> list:
        """Run ``body(attempt)`` under bench.py's guarded sweep: the load
        stamp, and one re-run when the stamp reads contaminated.
        Returns every attempt's result; the last one is kept."""
        results: list = []
        _, stamp = self._bench.run_sweep_guarded(lambda: results.append(body(len(results))))
        self.notes["load"] = stamp
        return results

    @contextlib.contextmanager
    def cache_watch(self):
        """Sample storage status every ``CACHE_SAMPLE_S`` from a second
        thread while the block runs; ``cache_peak`` keeps the most
        bytes (memory and disk) and RDDs cached at any sample."""
        sc = self.spark.sparkContext._jsc.sc()
        done = threading.Event()

        def sample():
            infos = [i for i in sc.getRDDStorageInfo() if i.numCachedPartitions() > 0]
            size = sum(i.memSize() + i.diskSize() for i in infos)
            self.cache_peak = [max(self.cache_peak[0], size), max(self.cache_peak[1], len(infos))]

        def loop():
            while not done.wait(CACHE_SAMPLE_S):
                sample()

        watcher = threading.Thread(target=loop, daemon=True)
        watcher.start()
        try:
            yield
            sample()
        finally:
            done.set()
            watcher.join()

    def note(self, **kv) -> None:
        self.notes.update(kv)


def _trace_sink_writes(tracer) -> None:
    """Time the file sink from outside: wrap the module attribute that
    ``restatement_batch_writer`` imports when it is built."""
    import projetbigdatastreaming_spark.sinks.files as files

    inner = files.overwrite_partitions

    def overwrite_partitions(df, path, partition_by):
        with tracer.span("sink.write"):
            inner(df, path, partition_by)

    files.overwrite_partitions = overwrite_partitions


def _history(args) -> str:
    return os.path.join(STATE, f"untraced-{args.workload}-{args.seconds}s.json")


def _overhead_pct(args, traced_pass_s: float) -> float:
    """Traced ``pass_s`` against the last ten untraced runs of the same
    workload and length in this checkout (else the committed seed
    baseline), in percent."""
    ref = []
    if os.path.exists(_history(args)):
        with open(_history(args)) as f:
            ref = json.load(f)
    if not ref:
        with open(os.path.join(HERE, "baseline.json")) as f:
            ref = [json.load(f)["workloads"][args.workload]["pass_s"]]
    base = statistics.median(ref)
    return 100.0 * (traced_pass_s - base) / base


def _remember_untraced(args, pass_s: float) -> None:
    ref = []
    if os.path.exists(_history(args)):
        with open(_history(args)) as f:
            ref = json.load(f)
    with open(_history(args), "w") as f:
        json.dump((ref + [pass_s])[-10:], f)


def run_one(args) -> int:
    import batch_relational
    import kpi_stream
    import measure

    spec = _spec()
    work = os.path.join(STATE, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    ctx = Context(args, work)
    try:
        bench = ctx._bench
        bench.LOADAVG_START_LIMIT = 2.0 * (os.cpu_count() or 1)
        bench.wait_for_external_idle = functools.partial(
            bench.wait_for_external_idle, max_wait_sec=IDLE_WAIT_S
        )
        ctx.start_session(args.workload)
        if ctx.traced:
            _trace_sink_writes(ctx.tracer)
        mod = {"kpi_stream": kpi_stream, "batch_relational": batch_relational}[
            args.workload
        ]
        res = mod.run(ctx)
        e2e = dict(res["e2e"], setup_s=ctx.setup_s, peak_rss_mb=measure.tree_peak_rss_mb())
    finally:
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)

    if ctx.traced:
        layers = dict(res["layers"])
        layers["cache.bytes_peak"], layers["cache.rdds_peak"] = ctx.cache_peak
        layers["trace.overhead_pct"] = _overhead_pct(args, e2e["pass_s"])
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        _remember_untraced(args, e2e["pass_s"])
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    ctx.tracer.dump(
        os.path.join(
            STATE, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        )
    )
    with open(
        os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}-notes.json"), "w"
    ) as f:
        json.dump({"e2e": e2e, "notes": ctx.notes}, f, indent=1, default=str)
    print(json.dumps(ctx.notes, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if res["failed"] == 0 else 1


def run_all(args) -> int:
    """Every workload, each in a fresh process; one summary line."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        worst = max(worst, proc.returncode)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or not lines:
            return proc.returncode or 2
        res = json.loads(lines[-1])
        for name, m in res["metrics"].items():
            print(f"{w:18s} {name:32s} {m['value']:.4f} {m['unit']}")
            total["metrics"][f"{w}.{name}"] = m
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
    print(json.dumps(total))
    return worst


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("projetbigdatastreaming_spark", "bench.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing from {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
