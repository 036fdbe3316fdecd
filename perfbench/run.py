"""Benchmark for lcmap_firebird_spark: one process, one local[N] Spark
session (N = the CPUs this process may use).

    python3 perfbench/run.py --workload ccdc_tile --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
--seed; sets up (session launch, three rounds of input generation +
load, one untimed warm-up pass); measures whole passes, --seconds
worth at the workload's nominal pass time, in CPU time and wall time;
checks the outputs untimed; and prints two JSON lines: a detail object
(box telemetry, set-up and pass times, per-workload figures, check
results) and, last, the result {"correct", "attempted", "failed",
"metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1
traced and untraced passes alternate and the metrics are the
per-layer ones (spans are written to .bench_out/). Everything the run
writes stays inside the checkout (.bench_work/ is removed at exit).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "cpu_ms_per_item": "ms", "out_bytes_per_item": "bytes"}
SETUP_ROUNDS = 3


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def pcalib_ms(n: int) -> float:
    """Parallel CPU calibration: `n` threads each md5 32 MiB (hashlib
    drops the GIL, so they occupy n cores); median per-thread wall ms,
    best of two rounds. Every thread's result is read, so a failed
    thread raises instead of leaving a 0 in the median."""
    buf = bytes(1 << 20)

    def work(_):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(32):
            h.update(buf)
        h.digest()
        return (time.perf_counter() - t0) * 1000.0

    best = float("inf")
    with ThreadPoolExecutor(n) as ex:
        for _ in range(2):
            best = min(best, statistics.median(ex.map(work, range(n))))
    return best


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file; None if gone."""
    try:
        with open(path) as f:
            st = f.read()
    except OSError:
        return None
    return st[st.index("(") + 1:st.rindex(")")], st[st.rindex(")") + 2:].split()


# JVM runtime threads whose CPU time follows JIT warm-up and heap timing
# rather than the work: HotSpot's C1/C2 compilers and G1's collectors
RUNTIME_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread#", "G1 ")


def work_cpu_s(jvm: int) -> float:
    """CPU seconds (user + system) the program has spent so far on its
    work: this process, plus the Spark JVM and every process under it
    (the Python workers; exited ones count through their parent's
    reaped-children times), less the JVM's RUNTIME_THREADS. On a
    virtual machine whose kernel accounts steal time, the time a vCPU
    waits for the host stays out of these figures, where it would
    stretch any wall-clock one."""
    tick = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(f"/proc/{d}/stat")):
            kids.setdefault(int(st[1][1]), []).append(int(d))
            cpu[int(d)] = sum(int(x) for x in st[1][11:15])
    total, todo = cpu.get(os.getpid(), 0), [jvm]
    while todo:
        p = todo.pop()
        total += cpu.get(p, 0)
        todo += kids.get(p, [])
    return (total - _threads_cpu(jvm, RUNTIME_THREADS)) / tick


def _threads_cpu(pid: int, prefixes: tuple[str, ...]) -> int:
    """CPU clock ticks of the threads of `pid` whose names start with
    one of `prefixes`."""
    ticks = 0
    for t in os.listdir(f"/proc/{pid}/task"):
        st = _stat(f"/proc/{pid}/task/{t}/stat")
        if st and st[0].startswith(prefixes):
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """The benchmark's single Spark session: launched once, stopped (JVM
    and all) at the end. Temp, spill and warehouse directories live in
    `work`."""

    def __init__(self, work: str, cpus: int):
        self.dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["TMPDIR"] = self.dirs["tmp"]
        # both JVMs (spark-submit's launcher and the Spark driver): temp files
        # in `work`, no hsperfdata file (it always goes to /tmp), and JIT
        # compiler threads that live as long as the JVM (an exiting one
        # would take its time with it, and work_cpu_s could no longer
        # leave that time out)
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.dirs['tmp']}"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        )
        self.spark = None

    def start(self):
        from lcmap_firebird_spark.session import session

        self.spark = session("perfbench", overrides={
            "spark.local.dir": self.dirs["local"],
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self):
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def run(args, work: str) -> tuple[dict, dict]:
    import workloads as W
    from tracing import Tracer

    cpus = len(os.sched_getaffinity(0))
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "size": W.SIZES[args.workload][args.scale]}
    box = {"nproc": cpus, "loadavg_before": loadavg(), "pcalib_ms": pcalib_ms(cpus)}
    cls = W.WORKLOADS[args.workload]
    size = W.SIZES[args.workload][args.scale]

    t0 = time.perf_counter()
    sess = Session(work, cpus)
    spark = sess.start()
    spark.range(1).count()
    launch_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, False, f"{args.workload}-{args.seed}")
    rounds = []
    try:
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl = cls(spark, tracer, args.seed, size, os.path.join(work, f"round{r}"))
            wl.generate()
            wl.load()
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.run_pass()  # warm-up: untimed, untraced
        warmup_s = time.perf_counter() - t0
        setup_s = launch_s + statistics.median(rounds) + warmup_s
        detail["setup"] = {"launch_s": launch_s, "rounds_s": rounds, "warmup_s": warmup_s}

        # whole passes, as many as fit --seconds at the workload's nominal
        # pass time; a traced run alternates traced and untraced passes
        n_passes = max(1, round(args.seconds / cls.pass_s), 2 * args.trace)
        jvm = sess.jvm_pid()
        passes, attempted, failed, errors = [], 0, 0, []
        start = time.perf_counter()
        for i in range(n_passes):
            traced = bool(args.trace) and i % 2 == 0
            tracer.enabled = traced
            t0, c0 = time.perf_counter(), work_cpu_s(jvm)
            try:
                with tracer.span("pass"):
                    ops = wl.run_pass()
            except Exception as ex:  # a failed operation is counted, not fatal
                traceback.print_exc()
                attempted += 1
                failed += 1
                errors.append(f"{type(ex).__name__}: {ex}")
                break
            finally:
                tracer.enabled = False
            passes.append({"s": time.perf_counter() - t0, "cpu_s": work_cpu_s(jvm) - c0,
                           "traced": traced, "ops": ops, "out_bytes": wl.out_bytes})
            attempted += len(ops)
        detail["measured_s"] = time.perf_counter() - start
        detail["pass_s"] = [p["s"] for p in passes]
        detail["pass_cpu_s"] = [p["cpu_s"] for p in passes]
        detail["ops_s"] = [p["ops"] for p in passes]
        peak_rss_mb = vm_hwm_mb(jvm) + vm_hwm_mb("self")

        t0 = time.perf_counter()
        try:
            chk = wl.check() if passes else {"errors": ["no pass completed"]}
        except Exception as ex:
            traceback.print_exc()
            chk = {"errors": [f"check raised {type(ex).__name__}: {ex}"]}
        errors += chk["errors"]
        detail["check"] = chk
        detail["check_s"] = time.perf_counter() - t0
        correct = not errors and failed == 0

        plain = [p for p in passes if not p["traced"]] or passes
        ops = [x for p in plain for x in p["ops"]]
        busy = sum(p["s"] for p in plain)
        items = sum(
            len(p["ops"]) if args.workload == "sql_catalog" else wl.n_items
            for p in plain
        )
        cpu = sum(p["cpu_s"] for p in plain)
        pct, tail_v = W.tail(ops) if ops else ("max", float("nan"))
        detail["figures"] = {
            "item": cls.item,
            "cpu_ms_per_item": 1000.0 * cpu / items if items else float("nan"),
            "out_bytes_per_item": plain[-1]["out_bytes"] / wl.n_items
            if plain else float("nan"),
            "items_per_s": items / busy if busy else float("nan"),
            "op_p50_s": statistics.median(ops) if ops else float("nan"),
            "op_tail_s": tail_v,
            "op_tail_pct": pct,
            "op_samples": len(ops),
            "passes": len(passes),
            "peak_rss_mb": peak_rss_mb,
        }
        if args.workload == "corpus_ingest" and passes:
            detail["figures"]["read_p50_s"] = statistics.median(wl.reads)
            detail["figures"]["bytes_per_live_byte"] = getattr(wl, "bytes_per_live", None)

        if args.trace:
            n_tr = sum(p["traced"] for p in passes) or 1
            units = W.layer_units(args.workload)
            layers = {k: 0.0 for k in units}
            if passes:
                layers.update(wl.layers(n_tr))
            traced_s = [p["s"] for p in passes if p["traced"]]
            plain_s = [p["s"] for p in passes if not p["traced"]]
            layers["session.start_s"] = launch_s
            layers["session.warmup_s"] = warmup_s
            layers["tasks_failed"] = sum(s["tasks_failed"] for s in tracer.spans)
            if traced_s and plain_s:
                layers["trace.overhead_frac"] = (
                    statistics.median(traced_s) / statistics.median(plain_s) - 1.0
                )
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.json"))
        else:
            vals = detail["figures"] | {"setup_s": setup_s}
            metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        t0 = time.perf_counter()
        sess.stop()
        detail["stop_s"] = time.perf_counter() - t0
    box["loadavg_after"] = loadavg()
    detail["box"] = box
    detail["errors"] = errors
    result = {"correct": correct, "attempted": max(attempted, 1),
              "failed": failed, "metrics": metrics}
    return detail, result


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ccdc_tile", "sql_catalog", "corpus_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is for the smoke test")
    return p.parse_args(argv)


if __name__ == "__main__":
    args = parse(sys.argv[1:])
    if not os.path.isdir(os.path.join(ROOT, "lcmap_firebird_spark")):
        print("perfbench: lcmap_firebird_spark/ not found beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.chdir(work)
    try:
        detail, result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
