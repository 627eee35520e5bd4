"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The run generates its
inputs from the seed (before the Spark session starts), starts one session
on ``local[nproc]``, runs the workload's fixed operation list once as a
closed loop with one client, checks every output outside the timed window,
stops the JVM and its Python workers, deletes its scratch directory and
prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, in CPU seconds of the driver process tree (this
process, the driver JVM and its Python workers); ``--trace 1`` reports the
per-layer metrics of a traced run and writes its spans to
``.perfbench_traces/``. The line before the result carries provenance and
the wall seconds of the same run.

Each workload is single-shot by design (a fresh process per run), so
``--seconds`` does not bound the work: it is recorded with the result.
Everything the run writes stays inside the checkout (``.perfbench_work/``,
removed at exit, and ``.perfbench_traces/``). ``python3 perfbench/selftest.py``
checks the benchmark itself at tiny scale.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEM = "3g"  # explicit: the shared 15 GB host, not get_spark's 48g default
MODULES = ("operators.tokenlist", "operators.chunking", "operators.dedup",
           "operators.text", "operators.classify", "operators.similarity",
           "operators.features", "operators.asof", "operators.windows",
           "operators.packing", "operators.ranges", "operators.stats",
           "operators.pipeline", "relational")
STORES = ("sources.digest_store", "sources.signature_store")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _git_sha(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return "unknown"
    ref = open(head).read().strip()
    if not ref.startswith("ref: "):
        return ref
    loose = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(loose):
        return open(loose).read().strip()
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.isfile(packed):
        for line in open(packed):
            if line.strip().endswith(ref[5:]):
                return line.split()[0]
    return "unknown"


def _provenance(root: str, seed: int, digests: dict) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": _cores(), "ram_gb": round(mem_kb / 2**20, 1),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0],
            "git_sha": _git_sha(root), "seed": seed, "input_digests": digests}


def _descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid``, in clock ticks (0 if gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    return sum(int(x) for x in fields[11:15])


def cpu_clock(jvm_pid: int):
    """A clock of the CPU seconds spent by this process, the driver JVM and
    the JVM's live descendants (the Python workers), each with the children
    it has reaped. A worker that exits between two readings moves its whole
    time into its reaper's count, so differences stay exact. The kernel
    leaves out time stolen by the hypervisor, which wall time includes."""
    tick = os.sysconf("SC_CLK_TCK")

    def now() -> float:
        own = os.times()
        pids = [jvm_pid] + _descendants(jvm_pid)
        return own.user + own.system + sum(map(_cpu_ticks, pids)) / tick

    return now


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - still kill and reap below
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def _install_wrappers(tracer: tracing.Tracer, spark) -> None:
    """Trace the store and checkpoint calls ingest makes, from outside the
    library: store reads record the rows the probe will scan, appends the
    bytes they add."""
    from htrc_feature_reader_spark.sources import digest_store, signature_store

    def store_path(args):
        return args[1]

    def after_read(path, attrs):
        attrs["probe_rows"] = tracing.parquet_rows(path)

    def before_append(args):
        return args[1], tracing.dir_bytes(args[1])

    def after_append(state, attrs):
        path, before = state
        attrs["bytes_written"] = tracing.dir_bytes(path) - before

    for mod, read, append in (
            (digest_store, "read_digest_store", "append_digests"),
            (signature_store, "read_signature_store", "append_signatures")):
        name = mod.__name__.removeprefix("htrc_feature_reader_spark.")
        tracer.wrap(mod, read, f"{name}.read", before=store_path, after=after_read)
        tracer.wrap(mod, append, f"{name}.append", before=before_append, after=after_append)
    # ingest pins its exact, MinHash and near-dup decisions with eager
    # checkpoints: that is the dedup layer's work inside a batch
    tracer.wrap(type(spark.range(1)), "localCheckpoint", "localCheckpoint",
                owner="operators.dedup")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(res: workloads.Result, setup_cpu_s: float) -> dict:
    """CPU seconds, not wall seconds: on a shared host the wall time of the
    same run moves with the neighbours' load far more than its CPU time."""
    cpu = res.op_cpu_s
    return {
        "setup_s": (setup_cpu_s, "s"),
        "cpu_s": (sum(cpu), "s"),
        "op_cpu_geomean_s": (statistics.geometric_mean(cpu) if cpu else 0.0, "s"),
    }


def per_layer(tracer: tracing.Tracer, res: workloads.Result, session_s: float,
              rss_mb: float) -> dict:
    spans = tracer.spans

    def dur(s):
        return s["end"] - s["start"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    m = {"session.start_s": (session_s, "s")}
    builds = named("entry.build")
    m["entry.build_s"] = (sum(map(dur, builds)), "s")
    m["entry.build_jobs"] = (sum(tracer.totals(b)["jobs"] for b in builds), "count")
    for mod in MODULES:
        owned = [s for s in spans if s["attrs"].get("owner") == mod]
        m[f"{mod}.exec_s"] = (sum(map(dur, owned)), "s")
    batches = named("ingest.batch")
    nb = max(len(batches), 1)
    m["operators.pipeline.batch_s"] = (_median(map(dur, batches)), "s")
    m["operators.pipeline.jobs_per_batch"] = (
        sum(tracer.totals(b)["jobs"] for b in batches) / nb, "count")
    m["operators.pipeline.checkpoints_per_batch"] = (
        sum(1 for b in batches for s in tracer.subtree(b) if s["name"] == "localCheckpoint") / nb,
        "count")
    for store in STORES:
        appends = named(f"{store}.append")
        m[f"{store}.append_s"] = (sum(map(dur, appends)), "s")
        m[f"{store}.bytes_written"] = (sum(s["attrs"]["bytes_written"] for s in appends), "bytes")
        m[f"{store}.probe_rows"] = (
            sum(s["attrs"]["probe_rows"] for s in named(f"{store}.read")) / nb, "count")
    m["sources.store_bytes_per_doc"] = (res.store_bytes_per_doc, "bytes")

    top = [s for s in spans if s["parent"] is None]
    tot = {k: 0.0 for k in tracing.ENGINE_KEYS + ("driver_gap_s",)}
    for s in top:
        for k, v in tracer.totals(s).items():
            tot[k] += v
    wall = sum(map(dur, top))
    units = {"jobs": "count", "stages": "count", "tasks": "count", "scan_rows": "count"}
    for k, v in tot.items():
        m[f"engine.{k}"] = (v, units.get(k, "bytes" if k.endswith("bytes") else "s"))
    m["engine.parallelism"] = (tot["task_s"] / wall if wall else 0.0, "ratio")
    input_rows = sum(s["attrs"].get("input_rows", 0) for s in spans)
    m["engine.scan_amplification"] = (
        tot["scan_rows"] / input_rows if input_rows else 0.0, "ratio")
    # the driver JVM's peak RSS follows G1's heap-sizing decisions, which
    # depend on measured pause times: too unsteady to carry a bound
    m["driver.peak_rss_mb"] = (rss_mb, "MB")
    m["trace.wall_s"] = (sum(res.op_s), "s")
    m["trace.cpu_s"] = (sum(res.op_cpu_s), "s")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--perturb", default=None,
                    help="self-test only: corrupt this op's result before its check")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "htrc_feature_reader_spark"))):
        print("run from the root of a checkout: __spark_entry__.py and "
              "htrc_feature_reader_spark/ not found", file=sys.stderr)
        return 2
    cores = _cores()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    data_dir = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # every JVM (the spark-submit launcher and the driver) keeps its temp
    # files in the checkout and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        return _run(args, root, cores, run_id, work, data_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only if no other run is using it
            os.rmdir(os.path.dirname(work))


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _run(args, root, cores, run_id, work, data_dir) -> int:
    steal0 = _steal_s()
    t_gen, c_gen = time.perf_counter(), sum(os.times()[:2])
    tables = gen.generate(workloads.INPUTS[args.workload][args.scale], args.seed)
    for name, table in tables.items():
        gen.write_table(table, os.path.join(data_dir, f"{name}.parquet"), 2 * cores)
    digests = {k: gen.table_digest(v) for k, v in tables.items()}
    rows = {k: v.num_rows for k, v in tables.items()}
    del tables
    gen_s = time.perf_counter() - t_gen
    gen_cpu_s = sum(os.times()[:2]) - c_gen

    sys.path.insert(0, root)
    import __spark_entry__ as entry
    from htrc_feature_reader_spark import get_spark

    tracer = tracing.Tracer(run_id, enabled=bool(args.trace))
    t_session = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=cores, shuffle_partitions=2 * cores,
                      extra_conf={
                          "spark.local.dir": os.path.join(work, "local"),
                          "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                          "spark.ui.showConsoleProgress": "false",
                      })
    session_s = time.perf_counter() - t_session
    oracle = None
    try:
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        tracer.attach(spark)
        if tracer.enabled:
            _install_wrappers(tracer, spark)
        from checks import Oracle

        oracle = Oracle(root, data_dir, list(rows), entry.oracle_sql())
        ctx = workloads.Context(
            spark=spark, queries=entry.queries(), data_dir=data_dir, work_dir=work,
            tables=rows, tracer=tracer, oracle=oracle, cpu=cpu_clock(jvm_pid),
            scale=args.scale, perturb=args.perturb)
        # set-up: this process from its start, the spark-submit launcher
        # and the driver JVM so far, less the input generation
        setup_wall_s = time.perf_counter() - T_START - gen_s
        setup_cpu_s = ctx.cpu() - gen_cpu_s
        res = workloads.RUNNERS[args.workload](ctx)
        tracer.unwrap()
        rss_mb = _peak_rss_mb(jvm_pid)
    finally:
        if oracle is not None:
            oracle.close()
        _stop_spark(spark)

    prov = _provenance(root, args.seed, digests)
    prov.update(workload=args.workload, scale=args.scale, seconds=args.seconds,
                gen_s=round(gen_s, 3), failures=res.failed,
                setup_wall_s=round(setup_wall_s, 3), wall_s=round(sum(res.op_s), 3),
                op_s=[round(x, 3) for x in res.op_s],
                op_cpu_s=[round(x, 3) for x in res.op_cpu_s],
                host_steal_s=round(_steal_s() - steal0, 1))
    if tracer.enabled:
        metrics = per_layer(tracer, res, session_s, rss_mb)
        tracer.write(os.path.join(root, ".perfbench_traces", f"{run_id}.jsonl"))
    else:
        metrics = end_to_end(res, setup_cpu_s)
    for f in res.failed:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({"provenance": prov}))
    print(json.dumps({
        "correct": not res.failed,
        "attempted": res.attempted,
        "failed": len(res.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
