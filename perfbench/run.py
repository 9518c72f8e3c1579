"""Benchmark entry point: one workload, one seed, one JSON result line.

Usage, from the root of a source checkout::

    python3 perfbench/run.py --workload report_sync --seed 1 --seconds 10 --trace 0

The program under test is the ``lwetl_spark`` package of the checkout the
command runs in.  Every file the run makes lives under ``.perfbench_work/``
of that checkout; the run's data directory is removed when it ends, and a
traced run leaves its spans in ``.perfbench_work/traces/``.

``--trace 0`` measures with tracing off and reports the end-to-end metrics.
``--trace 1`` traces every op and reports the per-layer metrics: one span
with a Spark census per public call, and the census read time as the
tracing overhead.  Human-readable lines go first; the
last line of standard output is the JSON result.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from census import Census, StatusStore, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: (name, unit, better) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("read_p50_ms", "ms", "lower"),
    ("read_tail_ms", "ms", "lower"),
    ("write_p50_ms", "ms", "lower"),
    ("write_tail_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("write_rows_per_s", "rows/s", "higher"),
    ("write_amp", "ratio", "lower"),
    ("space_amp", "ratio", "lower"),
)

#: (name, unit, better, end-to-end metric it should move on which workload)
PER_LAYER = (
    ("spark.jobs_per_op", "count", "lower", "read_p50_ms, write_p50_ms"),
    ("spark.tasks_per_op", "count", "lower", "read_p50_ms, write_p50_ms"),
    ("spark.driver_gap_ms", "ms", "lower", "read_p50_ms, write_p50_ms"),
    ("spark.exec_run_ms_per_op", "ms", "lower", "ops_per_s"),
    ("spark.exec_cpu_ms_per_op", "ms", "lower", "ops_per_s"),
    ("spark.gc_ms_per_op", "ms", "lower", "ops_per_s"),
    ("spark.utilisation", "ratio", "higher", "ops_per_s"),
    ("spark.shuffle_bytes_per_op", "bytes", "lower", "write_amp"),
    ("spark.output_bytes_per_op", "bytes", "lower", "write_amp"),
    ("spark.result_bytes_per_op", "bytes", "lower", "read_tail_ms on index_campaign"),
    ("spark.peak_exec_mem_mb", "MB", "lower", "guard: memory-for-time trades"),
    ("catalog.register_tables_ms", "ms", "lower", "setup_s on report_sync"),
    ("api.query_df_ms", "ms", "lower", "read_p50_ms on report_sync"),
    ("formatter.text_ms", "ms", "lower", "read_p50_ms, read_tail_ms on report_sync"),
    ("formatter.xml_ms", "ms", "lower", "read_p50_ms, read_tail_ms on report_sync"),
    ("formatter.sql_inserts_ms", "ms", "lower", "read_p50_ms, read_tail_ms on report_sync"),
    ("formatter.csv_write_ms", "ms", "lower", "ops_per_s, write_amp on report_sync"),
    ("formatter.xlsx_write_ms", "ms", "lower", "ops_per_s, write_amp on report_sync"),
    ("db_copy.plan_copy_ms", "ms", "lower", "write_p50_ms, ops_per_s on report_sync"),
    ("db_copy.sync_ms", "ms", "lower", "write_p50_ms, write_tail_ms on report_sync"),
    ("db_copy.jobs_per_sync", "count", "lower", "write_p50_ms on report_sync"),
    ("db_copy.useful_write_ratio", "ratio", "higher", "write_amp on report_sync"),
    ("uploader.commit_ms", "ms", "lower", "write_rows_per_s on report_sync"),
    ("uploader.update_ms", "ms", "lower", "write_rows_per_s on report_sync"),
    ("uploader.delete_ms", "ms", "lower", "write_rows_per_s on report_sync"),
    ("uploader.merge_ms", "ms", "lower", "write_rows_per_s on report_sync"),
    ("uploader.jobs_per_call", "count", "lower", "ops_per_s, write_rows_per_s on report_sync"),
    ("uploader.bytes_per_row_changed", "bytes", "lower", "write_amp on report_sync"),
    ("incremental.increment_ms", "ms", "lower", "write_p50_ms, write_tail_ms on index_campaign"),
    ("incremental.jobs_per_increment", "count", "lower", "write_p50_ms on index_campaign"),
    ("incremental.compact_ms", "ms", "lower", "setup_s on index_campaign"),
    ("incremental.jobs_per_compact", "count", "lower", "setup_s on index_campaign"),
    ("incremental.files_written_per_call", "count", "lower", "write_amp, space_amp on index_campaign"),
    ("incremental.bytes_written_per_admitted_byte", "ratio", "lower",
     "write_amp, space_amp on index_campaign"),
    ("retrieval.query_text_index_ms", "ms", "lower", "read_p50_ms on index_campaign"),
    ("retrieval.hybrid_topk_ms", "ms", "lower", "read_p50_ms on index_campaign"),
    ("similarity.query_ivf_index_ms", "ms", "lower", "read_p50_ms on index_campaign"),
    ("retrieval.text_jobs_per_probe", "count", "lower", "read_p50_ms on index_campaign"),
    ("retrieval.hybrid_jobs_per_probe", "count", "lower", "read_p50_ms on index_campaign"),
    ("similarity.ivf_jobs_per_probe", "count", "lower", "read_p50_ms on index_campaign"),
    ("process.jvm_peak_rss_mb", "MB", "lower", "guard: memory-for-time trades"),
    ("process.py_peak_rss_mb", "MB", "lower", "guard: memory-for-time trades"),
    ("trace.overhead_pct", "%", "lower", "none: cost of tracing itself"),
    ("check.fail_ratio", "ratio", "lower", "none: failed or wrong ops / ops attempted"),
)

#: op cycles every measured window holds at least, however slow the box
MIN_CYCLES = 1


class Metric:
    """One reported value with the facts needed to read it."""

    def __init__(self, value: float, unit: str, n: int, how: str):
        self.value, self.unit, self.n, self.how = float(value), unit, n, how


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least 10 samples beyond it."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], f"max (only n={n}; a tail needs 11)"
    return v[n - 11], f"p{100 * (n - 10) / n:.0f}"


def latency(samples: list[float], label: str) -> tuple[Metric, Metric]:
    if not samples:
        raise SystemExit(f"no {label} op completed: raise --seconds")
    t, how = tail(samples)
    return (Metric(statistics.median(samples), "ms", len(samples), "p50"),
            Metric(t, "ms", len(samples), how))


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def proc_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(work: str, cores: int):
    """The engine's own session factory, with every scratch path inside
    ``work`` and status-store retention large enough for a whole run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    tempfile.tempdir = tmp
    from lwetl_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, spark, workload, tracer: Tracer, store: StatusStore, cores: int):
        self.spark, self.w = spark, workload
        self.tracer, self.store, self.cores = tracer, store, cores
        self.results = []  # (op id, OpResult)
        self.warm_results: list = []
        self.untimed_failures: list[str] = []

    def warm_up(self, traced: bool) -> None:
        """Run the workload's warm-up ops, so the first, coldest call of
        each latency shape is paid in set-up.  Timed ops start one cycle on,
        so their inputs differ from the warm-up's."""
        for r in self.w.warm_up(traced):
            self.warm_results.append(r)
            self.spark.catalog.clearCache()
            if not r.ok:
                self.untimed_failures.append(f"warm-up {r.shape}: {r.note}")
        self.next_op = self.w.n_ops_per_cycle()

    def measure(self, seconds: float, traced: bool) -> float:
        """Run whole op cycles until ``seconds`` have passed; returns the
        measured wall time."""
        cycle = self.w.n_ops_per_cycle()
        t0 = time.perf_counter()
        c = 0
        self.tracer.store = self.store if traced else None
        while c < MIN_CYCLES or time.perf_counter() - t0 < seconds:
            for _ in range(cycle):
                self.tracer.op = self.next_op
                r = self.w.run_op(self.next_op)
                self.results.append((self.next_op, r))
                self.next_op += 1
                self.spark.catalog.clearCache()
            c += 1
        self.tracer.store = None
        return time.perf_counter() - t0


def end_to_end(runner: Runner, wall_s: float, setup_s: float, out_bytes: int) -> dict[str, Metric]:
    w = runner.w
    res = [r for _, r in runner.results]
    reads = [r.ms for r in res if r.shape == w.latency_shapes["read"]]
    writes = [r.ms for r in res if r.shape == w.latency_shapes["write"]]
    wr = [r for r in res if r.kind == "write"]
    m: dict[str, Metric] = {"setup_s": Metric(setup_s, "s", 1, "process start to warm and ready")}
    m["read_p50_ms"], m["read_tail_ms"] = latency(reads, f"{w.latency_shapes['read']} (read)")
    m["write_p50_ms"], m["write_tail_ms"] = latency(writes, f"{w.latency_shapes['write']} (write)")
    m["ops_per_s"] = Metric(len(res) / wall_s, "1/s", len(res), "ops / timed wall")
    write_s = sum(r.ms for r in wr) / 1000.0
    m["write_rows_per_s"] = Metric(sum(r.rows_changed for r in wr) / write_s, "rows/s", len(wr),
                                   "rows changed / write-op time")
    user = sum(r.user_bytes for r in wr)
    m["write_amp"] = Metric((out_bytes + sum(r.local_bytes for r in wr)) / user, "ratio", len(wr),
                            "bytes written / user bytes changed")
    disk, live = w.space()
    m["space_amp"] = Metric(disk / live, "ratio", 1, "bytes on disk / live user bytes")
    return m


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(runner: Runner, jvm_pid: int) -> dict[str, Metric]:
    """Per-layer metrics from the spans of a traced run.  Set-up and warm-up
    spans carry op id -1; only ``catalog.register_tables`` and the warm-up
    compaction are read from them."""
    tr, w = runner.tracer, runner.w
    spans = [s for s in tr.spans if s.op >= 0]
    ops = [s for s in spans if s.name.startswith("op.")]
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    total = Census()
    for s in ops:
        total.add(s.census)
    n = len(ops)
    wall_ms = sum(s.ms for s in ops)
    m: dict[str, Metric] = {}

    def per_op(name, value, unit):
        m[name] = Metric(value / n, unit, n, "mean per op")

    per_op("spark.jobs_per_op", total.jobs, "count")
    per_op("spark.tasks_per_op", total.tasks, "count")
    per_op("spark.driver_gap_ms", wall_ms - total.job_busy_ms, "ms")
    per_op("spark.exec_run_ms_per_op", total.exec_run_ms, "ms")
    per_op("spark.exec_cpu_ms_per_op", total.exec_cpu_ms, "ms")
    per_op("spark.gc_ms_per_op", total.gc_ms, "ms")
    m["spark.utilisation"] = Metric(total.exec_run_ms / (wall_ms * runner.cores), "ratio", n,
                                    "executor run time / (op wall x cores)")
    per_op("spark.shuffle_bytes_per_op", total.shuffle_write_bytes, "bytes")
    per_op("spark.output_bytes_per_op", total.output_bytes, "bytes")
    per_op("spark.result_bytes_per_op", total.result_bytes, "bytes")
    m["spark.peak_exec_mem_mb"] = Metric(total.peak_exec_mem / 2**20, "MB", n, "max over stages")

    def span_p50(metric, name, pool=by_name):
        xs = [s.ms for s in pool.get(name, [])]
        m[metric] = Metric(_median(xs), "ms", len(xs), "p50")

    setup_by_name: dict[str, list] = {}
    for s in tr.spans:
        if s.op < 0:
            setup_by_name.setdefault(s.name, []).append(s)
    span_p50("catalog.register_tables_ms", "catalog.register_tables", setup_by_name)
    for metric, name in (
        ("api.query_df_ms", "api.query_df"), ("formatter.text_ms", "formatter.text"),
        ("formatter.xml_ms", "formatter.xml"), ("formatter.sql_inserts_ms", "formatter.sql_inserts"),
        ("formatter.csv_write_ms", "formatter.csv_write"), ("formatter.xlsx_write_ms", "formatter.xlsx_write"),
        ("db_copy.plan_copy_ms", "db_copy.plan_copy"), ("db_copy.sync_ms", "db_copy.sync"),
        ("uploader.commit_ms", "uploader.commit"), ("uploader.update_ms", "uploader.update"),
        ("uploader.delete_ms", "uploader.delete"), ("uploader.merge_ms", "uploader.merge"),
        ("incremental.increment_ms", "incremental.increment"),
        ("retrieval.query_text_index_ms", "retrieval.query_text_index"),
        ("retrieval.hybrid_topk_ms", "retrieval.hybrid_topk"),
        ("similarity.query_ivf_index_ms", "similarity.query_ivf_index"),
    ):
        span_p50(metric, name)
    # the compaction runs once, in warm-up
    span_p50("incremental.compact_ms", "incremental.compact", setup_by_name)

    def jobs_per_call(metric, name, pool=by_name):
        xs = pool.get(name, [])
        m[metric] = Metric(sum(s.census.jobs for s in xs) / max(len(xs), 1), "count", len(xs),
                           "mean per call")

    jobs_per_call("incremental.jobs_per_increment", "incremental.increment")
    jobs_per_call("incremental.jobs_per_compact", "incremental.compact", setup_by_name)
    jobs_per_call("retrieval.text_jobs_per_probe", "retrieval.query_text_index")
    jobs_per_call("retrieval.hybrid_jobs_per_probe", "retrieval.hybrid_topk")
    jobs_per_call("similarity.ivf_jobs_per_probe", "similarity.query_ivf_index")
    idx = [r for r in runner.warm_results if r.shape == "compact"]
    idx += [r for _, r in runner.results if r.shape == "increment"]
    m["incremental.files_written_per_call"] = Metric(
        sum(r.files_written for r in idx) / max(len(idx), 1), "count", len(idx),
        "mean new files per increment or compaction")
    admitted = sum(r.user_bytes for r in idx)
    m["incremental.bytes_written_per_admitted_byte"] = Metric(
        sum(r.disk_bytes_written for r in idx) / admitted if admitted else 0.0, "ratio", len(idx),
        "new file bytes / admitted user bytes")

    by_op = dict(runner.results)
    syncs = by_name.get("db_copy.sync", [])
    jobs_per_call("db_copy.jobs_per_sync", "db_copy.sync")
    written = sum(s.census.output_records for s in syncs)
    changed = sum(by_op[s.op].rows_changed for s in syncs)
    m["db_copy.useful_write_ratio"] = Metric(changed / written if written else 0.0, "ratio", len(syncs),
                                             "rows changed / rows written")
    # one uploader batch call per op; an insert op is its row inserts + commit
    ups = [s for s in ops if s.name in ("op.insert", "op.update", "op.delete", "op.merge")]
    m["uploader.jobs_per_call"] = Metric(
        sum(s.census.jobs for s in ups) / max(len(ups), 1), "count", len(ups), "mean per batch call")
    up_rows = sum(by_op[s.op].rows_changed for s in ups)
    m["uploader.bytes_per_row_changed"] = Metric(
        sum(s.census.output_bytes for s in ups) / up_rows if up_rows else 0.0, "bytes", len(ups),
        "output bytes / rows changed")
    m["process.jvm_peak_rss_mb"] = Metric(proc_peak_rss_mb(jvm_pid), "MB", 1, "VmHWM")
    m["process.py_peak_rss_mb"] = Metric(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB", 1, "ru_maxrss")
    # an op's traced time less its untraced time is the census reads done
    # inside it: its nested spans' and its own
    tracer_ms = sum(s.census_ms + s.read_ms for s in ops)
    op_ms = sum(r.ms for _, r in runner.results)
    m["trace.overhead_pct"] = Metric(100.0 * tracer_ms / (op_ms - tracer_ms), "%", n,
                                     "census read time / untraced op time")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM and removes its data directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lwetl_spark", "__init__.py")):
        print(f"perfbench: no lwetl_spark package in {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = start_spark(work, cores)
        jvm_s = time.time() - PROCESS_START
        store = StatusStore(spark)
        tracer = Tracer(store if args.trace else None)
        workload = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t = time.perf_counter()
        workload.setup_data()
        data_s = time.perf_counter() - t
        runner = Runner(spark, workload, tracer, store, cores)
        runner.untimed_failures.extend(f"set-up: {p}" for p in workload.problems)
        t = time.perf_counter()
        runner.warm_up(bool(args.trace))
        warm_s = time.perf_counter() - t
        setup_s = time.time() - PROCESS_START

        start = store.mark()
        ticks0 = cpu_ticks()
        wall_s = runner.measure(args.seconds, traced=bool(args.trace))
        ticks1 = cpu_ticks()
        steal_pct = 100.0 * (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        res = [r for _, r in runner.results]
        failed = [r for r in res if not r.ok]
        print(f"# workload={args.workload} seed={args.seed} trace={args.trace} cores={cores} "
              f"ops={len(res)} timed_wall_s={wall_s:.2f} jvm_s={jvm_s:.2f} "
              f"data_setup_s={data_s:.2f} warmup_s={warm_s:.2f} "
              f"cpu_steal_pct={steal_pct:.1f}")
        for r in failed:
            print(f"# FAILED op {r.shape}: {r.note}")
        for note in runner.untimed_failures:
            print(f"# FAILED {note}")
        print_drift(runner)
        if args.trace:
            metrics = per_layer(runner, spark.sparkContext._gateway.proc.pid)
            metrics["check.fail_ratio"] = Metric(len(failed) / len(res), "ratio", len(res), "failed / attempted")
            print_trace(tracer, metrics)
            dump_trace(root, args, tracer)
        else:
            out_bytes = store.census(start, 0.0, 0.0).output_bytes
            metrics = end_to_end(runner, wall_s, setup_s, out_bytes)
            print(f"# fail_ratio = {len(failed) / len(res):.6f} ({len(failed)}/{len(res)} ops failed)")
            for name, unit, better in END_TO_END:
                mt = metrics[name]
                print(f"# {name} = {mt.value:.6g} {unit} ({mt.how}, n={mt.n}; {better} is better)")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not failed and not runner.untimed_failures,
        "attempted": len(res),
        "failed": len(failed),
        "metrics": {k: {"value": v.value, "unit": v.unit} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def print_drift(runner: Runner) -> None:
    """First-half vs second-half medians of each latency shape."""
    for kind, shape in runner.w.latency_shapes.items():
        xs = [r.ms for _, r in runner.results if r.shape == shape]
        if len(xs) < 2:
            print(f"# drift {kind} ({shape}): n={len(xs)}, too few samples to split")
            continue
        h = len(xs) // 2
        print(f"# drift {kind} ({shape}): first-half p50 {statistics.median(xs[:h]):.1f} ms, "
              f"second-half p50 {statistics.median(xs[h:]):.1f} ms (n={len(xs)})")


def print_trace(tracer: Tracer, metrics: dict[str, Metric]) -> None:
    for name, unit, better, moves in PER_LAYER:
        mt = metrics[name]
        print(f"# {name} = {mt.value:.6g} {unit} ({mt.how}, n={mt.n}; {better} is better; "
              f"moves {moves})")
    self_ms = tracer.self_ms()
    for name in sorted(self_ms):
        print(f"# self_ms {name} = {self_ms[name]:.1f} (total over the run, set-up included)")


def dump_trace(root: str, args, tracer: Tracer) -> None:
    out = os.path.join(root, ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    tracer.dump(path)
    print(f"# trace written to {path}")


if __name__ == "__main__":
    sys.exit(main())
