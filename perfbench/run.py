#!/usr/bin/env python3
"""Survey-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload cone --seed 1 --seconds 5 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it (``perfbench-detail``) records the
run environment, input sizes and secondary numbers.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import gen
from spans import Tracer
from workloads import SKY_VARIANTS, WORKLOADS, Op, run_ops

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OPEN_REPEATS = 3
# every end-to-end metric with its unit, in BENCHMARK.json order
UNITS = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "storage_bytes_per_input_byte": "ratio",
}
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class CpuMeter:
    """CPU seconds (user + system) of this process and every descendant:
    the Spark JVM, the Python worker daemon and its workers.

    A background thread samples ``/proc`` every ``interval`` seconds and
    keeps the last value seen for each process, so the CPU of a process
    that exits still counts: PySpark's worker daemon ignores SIGCHLD, so
    the time of an exited worker reaches no parent's ``cutime``.  What a
    process used after its last sample is missed; :attr:`exited` counts
    the processes that went away.  The sampling's own CPU is left out."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.tick = os.sysconf("SC_CLK_TCK")
        self._last: dict[tuple[int, int], int] = {}  # (pid, start time) -> ticks
        self._live: set = set()
        self._own = 0.0  # CPU seconds spent sampling
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="cpu-meter", daemon=True)

    def _scan(self) -> dict[tuple[int, int], int]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                # ppid, start time, utime + stime (fields 4, 22, 14 and 15)
                stats[int(d)] = (int(fields[1]), int(fields[19]),
                                 int(fields[11]) + int(fields[12]))
        kids = {}
        for pid, (ppid, _, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[(pid, stats[pid][1])] = stats[pid][2]
                todo += kids.get(pid, [])
        return out

    def sample(self) -> None:
        c0 = time.thread_time()
        seen = self._scan()
        with self._lock:
            self._last.update(seen)
            self._live = set(seen)
            self._own += time.thread_time() - c0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def read(self) -> float:
        """CPU seconds used since the meter started."""
        self.sample()
        with self._lock:
            return sum(self._last.values()) / self.tick - self._own

    @property
    def exited(self) -> int:
        with self._lock:
            return len(self._last) - len(self._live)


def reset_hwm(pid: int | str) -> None:
    """Restart the kernel's peak-RSS count of ``pid`` (Linux clear_refs);
    where that is not permitted the count keeps running from start."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def tail_percentile(n: int) -> float | None:
    """Highest reported percentile with at least ten samples beyond it."""
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= 10:
            return p
    return None


def percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    k = min(len(xs) - 1, max(0, int(round(p / 100.0 * len(xs) + 0.5)) - 1))
    return xs[k]


def busy_wall(ops) -> float:
    """Length of the union of the operations' [start, end] intervals."""
    spans = sorted((o.t0, o.t1) for o in ops)
    total, cur0, cur1 = 0.0, *spans[0]
    for a, b in spans[1:]:
        if a > cur1:
            total += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    return total + cur1 - cur0


class Bench:
    def __init__(self, args, work_root: str):
        self.args = args
        self.seed = args.seed
        self.root = ROOT
        self.work_root = work_root
        self.work = os.path.join(work_root, f"run-{os.getpid()}")
        self.jvm_opts = f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
        self.prof = gen.FULL
        self.meter = CpuMeter()
        self.info: dict = {}
        self.spark = None
        self._jvm_proc = None

    # -- spark lifecycle -------------------------------------------------------

    def start_spark(self) -> float:
        from lsd2_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": self.jvm_opts,
        })
        self._jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = self._jvm_proc
        if proc is not None and proc.poll() is None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    # -- one operation -----------------------------------------------------------

    @contextlib.contextmanager
    def timed(self, op, tracer):
        """Time one operation.  A traced one runs inside an operation span
        of ``tracer`` (the wrapped engine functions record spans only
        there), and its Spark jobs and tasks are counted afterwards."""
        sc = self.spark.sparkContext
        group = f"perfbench-{op.kind}-{op.index}-{'t' if op.traced else 'u'}"
        sc.setJobGroup(group, op.kind)
        outer = tracer.span(f"op.{op.kind}", op=op.index) if op.traced \
            else contextlib.nullcontext()
        with outer:
            c0 = time.thread_time()
            op.t0 = time.perf_counter()
            try:
                yield
            except Exception as e:  # an operation that raises counts as failed
                traceback.print_exc()
                op.ok, op.error = False, f"raised {type(e).__name__}: {e}"
            finally:
                op.t1 = time.perf_counter()
                op.latency = op.t1 - op.t0
                op.cpu = time.thread_time() - c0
        if op.traced:
            st = sc.statusTracker()
            for jid in st.getJobIdsForGroup(group):
                op.jobs += 1
                job = st.getJobInfo(jid)
                for sid in job.stageIds if job else []:
                    stage = st.getStageInfo(sid)
                    op.tasks += stage.numCompletedTasks if stage else 0

    def run_pass(self, wl, seconds=None, n_ops=None, tracer=None):
        """Run operations; ``self.pass_cpu_s`` is the CPU they used, the
        workload's untimed work between them (``after_op``) left out.

        With ``tracer`` each operation runs twice back to back, untraced
        and traced, the order alternating from one operation to the next
        so that neither side gains from running second on warm caches."""
        assert wl.after_op is None or wl.clients == 1
        between = 0.0

        def one(op):
            nonlocal between
            with self.timed(op, tracer):
                wl.run_op(op)
            if wl.after_op is not None:
                c0 = self.meter.read()
                wl.after_op(op)
                between += self.meter.read() - c0
            return op

        def run_one(i):
            if tracer is None:
                return [one(Op(wl.name, i))]
            pair = [Op(wl.name, i), Op(wl.name, i, traced=True)]
            return [one(op) for op in (reversed(pair) if i % 2 else pair)]

        c0, gone = self.meter.read(), self.meter.exited
        ops = run_ops(wl, run_one, seconds, n_ops)
        self.pass_cpu_s = self.meter.read() - c0 - between
        self.pass_exited = self.meter.exited - gone
        for op in ops:
            if op.ok:
                wl.check(op)
        return ops

    # -- the run ---------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        self.info["load_start"] = [round(x, 2) for x in os.getloadavg()]
        self.meter.start()
        c0 = self.meter.read()
        session_s = self.start_spark()
        session_cpu = self.meter.read() - c0
        sc = self.spark.sparkContext
        wl = WORKLOADS[args.workload](self)
        t0 = time.perf_counter()
        wl.prepare()
        self.info["prepare_s"] = round(time.perf_counter() - t0, 3)
        # peak memory counts from here: a standing-catalog build in
        # prepare() is not part of the workload
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        reset_hwm("self")
        reset_hwm(self.jvm_pid)

        opens, open_cpu = [], []
        for _ in range(OPEN_REPEATS):
            t0, c0 = time.perf_counter(), self.meter.read()
            wl.open()
            opens.append(time.perf_counter() - t0)
            open_cpu.append(self.meter.read() - c0)
        # set-up is gated as CPU time: its wall time doubled when four busy
        # processes shared the 4-core box while its CPU time stayed put
        setup_s = session_cpu + statistics.median(open_cpu)
        self.info["setup_wall_s"] = round(session_s + statistics.median(opens), 3)

        warm = self.run_pass(wl, n_ops=wl.warm_up_ops)
        ops = self.run_pass(wl, seconds=args.seconds)
        op_cpu_ms = self.pass_cpu_s * 1e3 / len(ops)
        self.info["cpu_procs_exited"] = self.pass_exited
        extra_ops = []
        if args.trace:
            import layers

            # replay the measured operations, each untraced and traced
            tracer = Tracer()
            layers.install(tracer)
            try:
                extra_ops = self.run_pass(wl, n_ops=len(ops), tracer=tracer)
            finally:
                tracer.unwrap_all()
            traced = [o for o in extra_ops if o.traced]
            plain = [o for o in extra_ops if not o.traced]
            values = layers.per_layer(wl, tracer, traced, plain)
            # a layer the workload does not call has no value; the result
            # must still name every per-layer metric
            self.info["not_exercised"] = [k for k, (v, _) in values.items() if v is None]
            self.info["trace_wall_s"] = {"untraced": round(sum(o.latency for o in plain), 3),
                                         "traced": round(sum(o.latency for o in traced), 3)}
            metrics = {k: (0.0 if v is None else v, u) for k, (v, u) in values.items()}
            trace_path = os.path.join(self.work_root, "traces",
                                      f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            with open(trace_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "spans": tracer.dump()}, f)
            self.info["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            stored, inputs = wl.storage()
            values = {
                "setup_s": setup_s,
                "op_cpu_ms": op_cpu_ms,
                "storage_bytes_per_input_byte": stored / inputs,
            }
            metrics = {k: (values[k], unit) for k, unit in UNITS.items()}

        # not an end-to-end metric: the JVM's lazily grown heap makes it
        # spread by half its median between seeds
        self.info["peak_rss_mb"] = round(vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid), 1)
        all_ops = warm + ops + extra_ops
        lat = [o.latency * 1e3 for o in ops]
        tail = tail_percentile(len(lat))
        self.info.update({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": sc.master, "clients": wl.clients, "loop": "closed",
            "sky_variant": args.seed % SKY_VARIANTS, "survey_rows": self.prof.survey_rows,
            "threshold": self.prof.threshold, "session_s": round(session_s, 3),
            "open_s": [round(x, 3) for x in opens], "ops": len(ops),
            "op_ms_p50": round(statistics.median(lat), 1),
            "tail_percentile": tail, "samples": len(lat),
            "op_ms_tail": round(percentile(lat, tail), 1) if tail else None,
            "op_ms_max": round(max(lat), 1),
            "op_ms": [round(x) for x in lat[:64]],
            "ops_per_s": round(len(ops) / busy_wall(ops), 4),
            **wl.summary(ops),
            "errors": [o.error for o in all_ops if not o.ok][:5],
            "load_end": [round(x, 2) for x in os.getloadavg()],
        })
        return {
            "correct": all(o.ok for o in all_ops),
            "attempted": len(all_ops),
            "failed": sum(not o.ok for o in all_ops),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lsd2_spark", "catalog.py")):
        print(f"perfbench: no engine sources under {ROOT}/lsd2_spark", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".bench_work")
    bench = Bench(args, work_root)
    # the engine, its Python workers and the JVM keep every file inside the checkout
    os.environ["TMPDIR"] = os.path.join(work_root, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = bench.jvm_opts  # the JVM that builds the driver command
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        result = bench.run()
    finally:
        bench.stop_spark()
        bench.meter.stop()
        shutil.rmtree(bench.work, ignore_errors=True)
    print("perfbench-detail " + json.dumps(bench.info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
