"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload medallion_cdc --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics. The line before it is a JSON object of side fields: provenance,
the tail latency, throughput in rows, ledger write amplification, the
list of failures and, in a traced run, every span and the attribution
self-check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))

#: Hard stop for the measured loop, whatever ``--seconds`` and the
#: minimum op count ask for.
MAX_MEASURE_S = 120.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def source_id(root: str) -> dict:
    """The git commit when the tree is a repository, and always a digest
    of the package sources (benchmark checkouts are not repositories)."""
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
                timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            sha = None
    h = hashlib.sha256()
    pkg = os.path.join(root, "data_seedling_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


class Context:
    def __init__(self, spark, tracer, run_dir, seed, trace):
        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.seed, self.trace = seed, trace
        self.counts = defaultdict(float)


def rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    return py + jvm


def cpu_ticks() -> list[int]:
    """Aggregate CPU time counters from /proc/stat (user … steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the
    driver JVM, the Python worker daemon and its workers (an exited child
    counts once its parent has reaped it). Time the hypervisor steals
    from the VM is charged to none of them."""
    stat = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while listing
            # fields after the command: state ppid ... utime stime cutime cstime (12-15)
            stat[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids = defaultdict(list)
    for pid, (ppid, _) in stat.items():
        kids[ppid].append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, (0, 0))[1]
        todo += kids[pid]
    return ticks / os.sysconf("SC_CLK_TCK")


def start_session(run_dir: str, trace: bool):
    from data_seedling_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return build_session("perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, ctx, seconds: float):
    """The closed loop: commit, op (timed), per-op gate, until
    ``seconds`` have passed and the workload has enough ops."""
    tr = ctx.tracer
    ops, ok, loop_s = [], [], 0.0
    t0 = time.time()
    i = 0
    while True:
        a = time.time()
        with tr.span("commit"):
            wl.commit(i)
        cpu = tree_cpu_s()
        with tr.span("op") as s:
            try:
                good = wl.op(i)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                wl.failures.append(f"op {i}: {type(e).__name__}: {e}")
                good = False
        s.counts["cpu_s"] = tree_cpu_s() - cpu
        loop_s += time.time() - a
        ops.append(s)
        with tr.span("gate"):
            good = wl.gate(i) and good
        ok.append(good)
        i += 1
        elapsed = time.time() - t0
        if i >= wl.MAX_OPS or elapsed >= MAX_MEASURE_S:
            break
        if elapsed >= seconds and wl.enough(i):
            break
    return ops, ok, loop_s


def run(args, root: str, run_dir: str) -> tuple[dict, dict]:
    import pyspark

    import bench
    from spans import Tracer, install_wrappers, tree_files
    from stats import CATALOG_LAYER, END_TO_END, PER_LAYER, median, tail
    from workloads import WORKLOADS

    ticks0, load0 = cpu_ticks(), os.getloadavg()[0]
    t_setup, cpu0 = time.time(), tree_cpu_s()
    spark = start_session(run_dir, bool(args.trace))
    try:
        session_build_s = time.time() - t_setup
        jvm_pid = getattr(getattr(pyspark.SparkContext._gateway, "proc", None), "pid", None)
        tracer = Tracer(spark)
        ctx = Context(spark, tracer, run_dir, args.seed, bool(args.trace))
        undo = install_wrappers(tracer) if args.trace else (lambda: None)
        try:
            wl = WORKLOADS[args.workload](ctx)
            with tracer.span("setup"):
                wl.setup()
            setup_s = time.time() - t_setup
            setup_cpu_s = tree_cpu_s() - cpu0
            setup_phases = {"session": session_build_s, **{
                s.name: s.dur for s in tracer.spans if s.name.startswith("setup.")}}
            n_setup_spans = len(tracer.spans)
            ledger_before = tree_files(wl.ledger_root)
            ops, ok, loop_s = measure(wl, ctx, args.seconds)
            ledger_new = {p: n for p, n in tree_files(wl.ledger_root).items() if p not in ledger_before}
            with tracer.span("gate"):
                try:
                    wl.check()
                except Exception as e:  # noqa: BLE001 — a gate that cannot run fails the run
                    wl.failures.append(f"check: {type(e).__name__}: {e}")
                    ok = [False] * len(ok)
            ok = [g and not wl.failed_after_check(i) for i, g in enumerate(ok)]
            peak = rss_mb(jvm_pid)
            # The host calibration costs ~11 s on 4 cores, so only the
            # traced run pays for it, after everything it measures.
            calibration = {"calibration_s": None, "calibration_text_s": None}
            if args.trace:
                with tracer.span("calibration"):
                    calibration = {"calibration_s": bench.calibration_run(spark),
                                   "calibration_text_s": bench.calibration_text_run(spark)}
            conf = {k: spark.conf.get(k) for k in (
                "spark.master", "spark.sql.shuffle.partitions",
                "spark.sql.execution.arrow.pyspark.enabled")}
            layer = layer_metrics(ctx, wl, ops, n_setup_spans, ledger_new,
                                  session_build_s) if args.trace else None
        finally:
            undo()
    finally:
        stop_session(spark)

    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    lat = [s.dur for s in ops]
    cpu = [s.counts["cpu_s"] for s in ops]
    n = len(ops)
    # End to end in CPU seconds, not wall time: on a shared 4-core VM
    # where the hypervisor stole 2-24% of the CPU over a run, wall-clock
    # set-up and op times of runs minutes apart differed by up to 1.9x
    # (interquartile spread over five seeds 0.23-0.54), and the CPU
    # seconds of the same runs spread 0.07-0.13. Wall times are side fields.
    e2e = {
        "setup_s": setup_cpu_s,
        "op_cpu_s": median(cpu),
        "bytes_written_per_input_byte":
            sum(ledger_new.values()) / wl.input_bytes if wl.input_bytes else None,
    }
    ops_per_min = 60.0 * n / loop_s
    side = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": os.cpu_count(),
        "spark_version": pyspark.__version__,
        "python": platform.python_version(),
        **source_id(root),
        **calibration,
        "session": {"DS_SPARK_BENCH_ARROW": os.environ.get("DS_SPARK_BENCH_ARROW"), **conf},
        # host contention: CPU time stolen by the hypervisor over the run,
        # and the load average before the run started
        "host": {"steal_frac": ticks[7] / max(1, sum(ticks)), "loadavg_1m_before": load0},
        "setup_wall_s": setup_s,
        "setup_phases_s": setup_phases,
        "ops": n,
        "failed_ops_frac": (n - sum(ok)) / n,
        "op_tail_s": tail(lat) or {"value": None, "reason": f"{n} ops; a tail needs at least 20"},
        "op_p50_s": median(lat),
        "ops_per_min": ops_per_min,
        "op_latencies_s": [round(x, 4) for x in lat],
        "op_cpu_times_s": [round(x, 3) for x in cpu],
        "rows_per_s": wl.rows_committed / loop_s if wl.rows_committed else None,
        "queries_per_min": ops_per_min if args.workload == "catalog_analytics" else None,
        # A side field, not a bounded metric: JVM heap growth depends on
        # GC timing, and five-seed sets read a 0.16-0.44 interquartile spread.
        "peak_rss_mb": peak,
        "failures": wl.failures[:20],
    }
    if args.trace:
        side["attribution"] = layer.pop("_attribution")
        side["spans"] = layer.pop("_spans")
        units = {**PER_LAYER, **(CATALOG_LAYER if args.workload == "catalog_analytics" else {})}
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k][0]} for k in END_TO_END}
    result = {"correct": not wl.failures, "attempted": n, "failed": n - sum(ok), "metrics": metrics}
    return side, result


def layer_metrics(ctx, wl, ops, n_setup_spans, ledger_new, session_build_s):
    """Per-layer metrics from the spans of the measured loop and the
    Spark jobs attributed to them by job group."""
    from stats import CATALOG_LAYER, PER_LAYER, median
    from spans import covered, fetch_jobs
    from workloads import FAMILY

    tr = ctx.tracer
    jobs, app = fetch_jobs(ctx.spark)
    by_group: dict[str, list] = defaultdict(list)
    for j in jobs:
        by_group[j.group].append(j)
    kids = tr.children()
    by_id = {s.sid: s for s in tr.spans}

    def under(s, name):
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name == name:
                return True
        return False

    measured = [s for s in tr.spans[n_setup_spans:] if s.parent is None and s.name in ("commit", "op")]
    n = len(ops)
    units = {**PER_LAYER, **CATALOG_LAYER}
    m = {k: 0.0 for k in units}

    def sub_jobs(span):
        return [j for s in tr.subtree(span, kids) for j in by_group.get(s.group, ())]

    # Spark totals over the measured loop (commits and ops).
    for root in measured:
        js = sub_jobs(root)
        busy = covered([(j.start, j.end) for j in js], root.start, root.end)
        m["spark.action_s"] += busy
        m["spark.driver_gap_s"] += root.dur - busy
        m["spark.jobs"] += len(js)
        m["spark.stages"] += sum(j.stages for j in js)
        for j in js:
            m["spark.tasks"] += j.totals["tasks"]
            m["spark.executor_run_s"] += j.totals["executor_run_s"]
            m["spark.executor_cpu_s"] += j.totals["executor_cpu_s"]
            m["spark.input_bytes"] += j.totals["input_bytes"]
            m["spark.shuffle_write_bytes"] += j.totals["shuffle_write_bytes"]
            m["spark.spill_bytes"] += j.totals["memory_spill_bytes"] + j.totals["disk_spill_bytes"]
    # Layer spans inside the measured loop: span "x.y" adds its duration
    # to metric "x.y_s". Same-name nesting is folded by the wrappers, so
    # these inclusive sums never double count one layer.
    reads, rewritten, changed = [], 0, 0
    for root in measured:
        for s in tr.subtree(root, kids):
            if s.name + "_s" in m and s.name != "queries.build":
                m[s.name + "_s"] += s.dur
            if s.name.startswith("ledger."):
                m[s.name + "_calls"] += 1
                m[s.name + "_jobs"] += len(sub_jobs(s))
            if s.name.startswith("watermark."):
                m["watermark.jobs"] += len(sub_jobs(s))
            if s.name == "queries.build":
                m["queries.build_s"] += tr.self_time(s, kids)
                m["queries.build_jobs"] += len(sub_jobs(s))
            if s.name == "feature_extraction.build":
                m["feature_extraction.build_jobs"] += len(sub_jobs(s))
            if s.name == "ledger.read":
                reads.append(s.counts.get("versions", 0))
            if s.name == "ledger.merge":
                rewritten += s.counts.get("rows_rewritten", 0)
                changed += s.counts.get("rows_changed", 0)
                if under(s, "incremental.write_increment"):
                    m["incremental.changes_rows"] += s.counts.get("rows_changed", 0)
                if under(s, "runner.pseudonymisation"):
                    m["pseudonymise.rows"] += s.counts.get("rows_changed", 0)
            m["matview.changes_consumed"] += s.counts.get("versions_consumed", 0)
    for k, u in units.items():
        if u.endswith("/op"):
            m[k] /= n
    if wl.name == "catalog_analytics":
        fam_ops = defaultdict(list)
        for i, s in enumerate(ops):
            fam_ops[FAMILY[wl.query(i)]].append(s.dur)
        for fam, durs in fam_ops.items():
            m[f"catalog.{fam}_s"] = sum(durs) / len(durs)
    m["session.build_s"] = session_build_s
    m["session.warmup_s"] = sum(s.dur for s in tr.spans if s.name == "setup.warmup")
    m["runner.failed"] = ctx.counts["runner.failed"]
    m["runner.skipped"] = ctx.counts["runner.skipped"]
    m["matview.compactions_run"] = ctx.counts["matview.compactions_run"]
    m["matview.compactions_skipped"] = ctx.counts["matview.compactions_skipped"]
    m["ledger.bytes_written"] = sum(ledger_new.values()) / n
    m["ledger.files_written"] = sum(1 for p in ledger_new if p.endswith(".parquet")) / n
    m["ledger.bytes_written_per_input_byte"] = (
        sum(ledger_new.values()) / wl.input_bytes if wl.input_bytes else 0.0
    )
    m["ledger.rows_rewritten_per_row_changed"] = rewritten / changed if changed else 0.0
    m["ledger.versions_per_read"] = median(reads) if reads else 0.0
    if wl.name == "index_maintenance":
        t = wl.lsh.table
        raw = t.row_count_footer() or 0
        with tr.span("gate"):
            live = wl.lsh.read().count()
        m["matview.stale_fraction"] = (raw - live) / raw if raw else 0.0
    m["trace.op_p50_s"] = median([s.dur for s in ops])
    m["trace.op_cpu_s"] = median([s.counts["cpu_s"] for s in ops])
    # Self-check: every executed stage belongs to one span's job group,
    # and the per-group sums equal the application-wide stage totals.
    groups = {s.group for s in tr.spans}
    grouped = [j for j in jobs if j.group in groups]
    sums = {k: sum(j.totals[k] for j in grouped) for k in ("tasks", "executor_run_s", "input_bytes", "shuffle_write_bytes")}
    m["trace.unattributed_tasks"] = app["tasks"] - sums["tasks"]
    t0 = tr.spans[0].start
    def gap(s):
        js = sub_jobs(s)
        return s.dur - covered([(j.start, j.end) for j in js], s.start, s.end)

    m["_spans"] = {
        "columns": ["id", "parent", "name", "start_s", "dur_s", "self_s", "driver_gap_s", "jobs"],
        "rows": [
            [s.sid, s.parent, s.name, round(s.start - t0, 4), round(s.dur, 4),
             round(tr.self_time(s, kids), 4), round(gap(s), 4), len(sub_jobs(s))]
            for s in tr.spans
        ],
    }
    m["_attribution"] = {
        "jobs": len(jobs),
        "jobs_outside_spans": len(jobs) - len(grouped),
        "group_sums": sums,
        "app_totals": {k: app[k] for k in sums},
        "unowned_stages": app["unowned_stages"],
        "equal": all(abs(sums[k] - app[k]) <= 1e-6 * max(1.0, abs(app[k])) for k in sums)
        and app["unowned_stages"] == 0,
    }
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "data_seedling_spark")):
        print(f"perfbench: no data_seedling_spark package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    # Python workers import the package too: put the root on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # A terminated run still stops Spark and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(root, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=runs)
    try:
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        # spark-submit first runs a launcher JVM; keep its files in the run dir too
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        side, result = run(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(side, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
