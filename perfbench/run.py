"""Benchmark of the engine on this machine's cores, one workload per run.

    python3 perfbench/run.py --workload des_pipeline --seed 1 --seconds 20 --trace 0

Run it from the repository root.  One driver process generates the
workload's inputs from the seed, sets up (launches a fresh JVM, builds
its own ``local[nproc]`` session and runs the workload's warm-up), runs
one cold pass and ``--seconds`` / 5 (at least one) warm passes, and
checks every operation's output outside its timer.  The reported
metrics are CPU seconds of the engine (this process, the JVM and its
Python workers): ``setup_s`` all of it, ``pass_cpu_s`` all but the JVM's
JIT-compiler and garbage-collector threads; both are scaled by the CPU
time of a fixed reference loop timed in the same run, to the speed the
machine's cores have when its other tenants are quiet.  On a shared
virtual machine the stolen CPU time makes wall-clock figures swing by a
third from run to run, so wall times are printed and recorded but not
reported.  Each run gets a fresh scratch
directory under ``.perfbench_work/`` for ``TMPDIR``, ``SPARK_LOCAL_DIRS``,
the warehouse and the inputs, so no earlier run's fixtures are reused.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` writes a Spark
event log, tags every job with ``workload|operation|layer|span``, and
prints the per-layer metrics parsed from it after the session stops.  The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "queue_system_simulator_spark"
#: JVM threads whose CPU time is the runtime's own upkeep, not the program's
#: work, by the start of their name as ``/proc/<pid>/task/<tid>/comm`` gives it
RUNTIME_THREADS = {"jit": ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread"),
                   "gc": ("GC Thread", "G1 ", "VM Thread")}
#: a warm pass takes 2.5-6 s on a 4-vCPU machine, the longer when its host
#: is busy; ``--seconds`` buys one warm pass per WARM_PASS_S, a count that
#: does not depend on the speed of the run, so every run measures the same
#: positions on the JVM's warm-up curve
WARM_PASS_S = 5.0
#: the host-speed reference: a fixed integer loop in this process, which the
#: program cannot change; it takes about REFERENCE_S of CPU on a quiet 4-vCPU
#: machine, and more when the machine's other tenants slow its cores
REFERENCE_LOOPS = 2_000_000
REFERENCE_S = 0.2
END_TO_END_UNITS = {"setup_s": "s", "pass_cpu_s": "s"}
#: printed and kept in result.json, not reported: the cold pass is one sample
#: per run, and wall-clock times carry the CPU time the hypervisor steals
RECORDED_UNITS = {"raw_setup_s": "s", "raw_pass_cpu_s": "s",
                  "setup_reference_s": "s", "warm_reference_s": "s",
                  "wall_setup_s": "s", "pass_s": "s", "pass_total_cpu_s": "s",
                  "pass_jit_cpu_s": "s", "pass_gc_cpu_s": "s", "op_p50_s": "s",
                  "rows_per_s": "rows/s", "cold_pass_s": "s", "cold_pass_cpu_s": "s"}


def _tree(root: str) -> dict[str, tuple[int, int]]:
    """Every file of the checkout outside the scratch area, with size and mtime."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not (d == root and x in (".perfbench_work", ".git"))]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _provenance() -> dict:
    h = hashlib.sha1()
    for p in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + f.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, check=False)
        commit = r.stdout.strip() or None
    return {"commit": commit, "source_sha1": h.hexdigest()[:16]}


def _cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters (user ... steal) of the machine."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _cpu_sample() -> dict:
    """CPU ticks used so far by this process and every process under it
    (the JVM and its Python workers, exited children included), and by
    each live thread of the JVM, with the thread's name."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    threads = {}
    jvm = _jvm_pid()
    for tid in os.listdir(f"/proc/{jvm}/task") if jvm else []:
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        threads[int(tid)] = (stat[stat.index("(") + 1:stat.rindex(")")],
                             int(fields[11]) + int(fields[12]))
    return {"tree": total, "threads": threads}


def _cpu_used(a: dict, b: dict) -> dict[str, float]:
    """CPU seconds between two samples: the whole tree's, and the part the
    JVM's JIT-compiler and garbage-collector threads used."""
    hz = os.sysconf("SC_CLK_TCK")
    out = {"total": (b["tree"] - a["tree"]) / hz, "jit": 0.0, "gc": 0.0}
    for tid, (name, ticks) in b["threads"].items():
        for group, prefixes in RUNTIME_THREADS.items():
            if name.startswith(prefixes):
                out[group] += (ticks - a["threads"].get(tid, (name, 0))[1]) / hz
    return out


def _reference_s() -> float:
    """CPU seconds this process takes for the reference loop: how fast the
    machine's cores run now."""
    t0 = time.process_time()
    x = 1
    for _ in range(REFERENCE_LOOPS):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return time.process_time() - t0


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(1, ROOT)
    sys.dont_write_bytecode = True
    nproc = len(os.sched_getaffinity(0))
    # session.py reads the core count when it is imported
    os.environ.update({"SPARK_GRAFT_CPUS": str(nproc), "PYTHONDONTWRITEBYTECODE": "1"})

    import numpy as np
    import tracing
    from workloads import WORKLOADS

    from queue_system_simulator_spark.operators.statistics import release_pinned
    from queue_system_simulator_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    load_start = os.getloadavg()
    ticks_start = _cpu_ticks()
    tree_before = _tree(ROOT)
    tmp_qss_before = set(glob.glob("/tmp/qss_*"))
    provenance = _provenance()

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "data", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # By default the JVM retires idle JIT-compiler threads and starts new ones;
    # a retired thread's CPU time can no longer be told from the program's.
    # Keeping them alive changes no work the program does.
    os.environ.update({
        "TMPDIR": dirs["tmp"], "SPARK_LOCAL_DIRS": dirs["local"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    tracer = tracing.Tracer(bool(args.trace), args.workload)
    tracer.patch_layers()
    wl = WORKLOADS[args.workload](dirs["data"], args.seed)

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.hadoop.hadoop.tmp.dir": dirs["tmp"]}
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + dirs["eventlog"],
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    reference = [_reference_s()]
    with tracer.span("setup", index=0):
        c0 = _cpu_sample()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        tracer.spark = spark
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        setup_cpu = _cpu_used(c0, _cpu_sample())

    rng_order = np.random.default_rng(args.seed)
    passes: list[dict[str, float]] = []
    pass_cpu: list[dict[str, float]] = []
    errors: list[str] = []
    attempted = failed = 0
    for k in range(1 + max(1, round(args.seconds / WARM_PASS_S))):
        lat, cpu = {}, {}
        release_pinned()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        reference.append(_reference_s())
        with tracer.span("pass", index=k, cold=k == 0):
            for op in rng_order.permutation(wl.ops):
                attempted += 1
                c0 = _cpu_sample()
                t0 = time.perf_counter()
                try:
                    with tracer.span("op", op=str(op)) as s:
                        result = wl.run_op(spark, str(op), tracer)
                    lat[str(op)] = time.perf_counter() - t0
                    cpu[str(op)] = _cpu_used(c0, _cpu_sample())
                    if s is not None:
                        s["cache_fills"] = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
                    errs = wl.check(str(op), result)
                except Exception:  # an operation's failure is counted, the run goes on
                    errs = [f"{op} raised:\n{traceback.format_exc()}"]
                if errs:
                    failed += 1
                    errors += errs
        passes.append(lat)
        pass_cpu.append(cpu)

    _stop_spark(spark)
    layer = {}
    if args.trace:
        log = tracing.parse_event_logs(dirs["eventlog"])
        layer = tracing.layer_metrics(tracer.spans, log, wl.kernel_rows)
    for k in ("tmp", "local", "warehouse", "data"):
        shutil.rmtree(dirs[k], ignore_errors=True)

    changed = sorted(set(_tree(ROOT).items()) ^ set(tree_before.items()))
    new_tmp = sorted(set(glob.glob("/tmp/qss_*")) - tmp_qss_before)
    if changed or new_tmp:
        failed += 1
        errors.append(f"run changed files outside .perfbench_work: {changed[:5]} "
                      f"and added /tmp entries: {new_tmp}")

    e2e, recorded = {}, {}
    if failed == 0:
        def work_cpu(c):
            return c["total"] - c["jit"] - c["gc"]

        def warm(f):
            return statistics.median(sum(map(f, c.values())) for c in pass_cpu[1:])

        pass_s = statistics.median(sum(p.values()) for p in passes[1:])
        # CPU seconds at the reference speed: a run on slowed cores takes more
        # CPU for the same work, and so does the reference loop.  The set-up
        # is scaled by the two loops around it, the warm passes by the loops
        # before each of them.
        setup_ref = statistics.mean(reference[:2])
        warm_ref = statistics.median(reference[2:])
        e2e = {"setup_s": setup_cpu["total"] * REFERENCE_S / setup_ref,
               "pass_cpu_s": warm(work_cpu) * REFERENCE_S / warm_ref}
        recorded = {
            "raw_setup_s": setup_cpu["total"],
            "raw_pass_cpu_s": warm(work_cpu),
            "setup_reference_s": setup_ref,
            "warm_reference_s": warm_ref,
            "wall_setup_s": setup_s,
            "pass_s": pass_s,
            "pass_total_cpu_s": warm(lambda c: c["total"]),
            "pass_jit_cpu_s": warm(lambda c: c["jit"]),
            "pass_gc_cpu_s": warm(lambda c: c["gc"]),
            "op_p50_s": statistics.median(x for p in passes[1:] for x in p.values()),
            "rows_per_s": sum(wl.rows.values()) / pass_s,
            "cold_pass_s": sum(passes[0].values()),
            "cold_pass_cpu_s": sum(map(work_cpu, pass_cpu[0].values())),
        }
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    steal_frac = ticks[7] / sum(ticks) if sum(ticks) else 0.0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "steal_frac": steal_frac, **provenance, "setup_s": setup_s, "setup_cpu_s": setup_cpu,
        "reference_s": reference,
        "pass_op_s": passes, "pass_op_cpu_s": pass_cpu,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "errors": errors, "end_to_end": e2e, "recorded": recorded, "per_layer": layer,
        "run_s": time.perf_counter() - started,
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(tracer.spans, f)

    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} nproc={nproc} "
          f"loadavg={load_start[0]:.2f}->{record['loadavg_end'][0]:.2f} steal={steal_frac:.3f} "
          f"commit={provenance['commit']} source={provenance['source_sha1']} "
          f"passes={len(passes)} run_s={record['run_s']:.1f}")
    print(f"  failed_frac = {failed}/{attempted} = {record['failed_frac']:.4f} ratio")
    for name, v in recorded.items():
        print(f"  ({name} = {v:.6g} {RECORDED_UNITS[name]})")
    shown = layer if args.trace else e2e
    units = {} if args.trace else END_TO_END_UNITS
    for name, v in shown.items():
        print(f"  {name} = {v:.6g} {units.get(name, tracing.unit(name))}")
    metrics = {n: {"value": v, "unit": units.get(n, tracing.unit(n))} for n, v in shown.items()}
    sys.stderr.flush()
    print(json.dumps({"correct": failed == 0 and bool(shown), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
