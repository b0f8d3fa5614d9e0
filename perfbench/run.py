"""Wall-clock benchmark of tbl_spark: ingest, scan and lookup workloads.

Run from the repository root:

    python3 perfbench/run.py --workload ingest|scan|lookup --seed N \\
        --seconds S --trace 0|1

One run sets up its inputs once (``setup_s``), times a cold op in a
fresh JVM with fresh Python workers, then runs warm ops back to back
(a closed loop, one client) for ``--seconds``. Every op is checked
against the expected data. The last line of standard output
is one JSON object; the lines before it name every metric with its unit.

``--trace 1`` is a separate run that alternates plain ops with traced
ops, switches Spark's event log on, and reports the per-layer table
instead (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

import gen
import tracing as tr
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
MIB = float(1 << 20)
CODEC_SEED = 0          # the fixed chunk set of the in-process codec layer
CODEC_CHUNKS = 4
CODEC_DOCS = 2_500      # per chunk, about 1 M tokens
CODEC_REPS = 3
WARM_UP = ("cold", "op-1")     # ops left out of the warm statistics

E2E_UNITS = {"setup_s": "s", "cold_op_s": "s", "op_s_p50": "s",
             "op_s_tail": "s", "store_bytes_per_token": "B/token",
             "py_worker_peak_mb": "MiB", "op_fail_frac": "ratio"}
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.py_boot_init_s": "s",
    "encode.audition_s": "s", "store.encode_to_store_s": "s",
    "encode.kernel_s": "s", "encode.chunks": "count",
    "encode.py_sent_mb": "MiB", "encode.py_returned_mb": "MiB",
    "encode.py_run_s": "s",
    "partitioning.shuffle_write_mb": "MiB",
    "partitioning.shuffle_write_s": "s",
    "codecs.encode_s_per_mtok": "s/Mtok", "codecs.decode_s_per_mtok": "s/Mtok",
    "codecs.bytes_per_token": "B/token",
    "store.overhead_bytes_per_token": "B/token",
    "store.commit_s_per_chunk": "s", "store.files": "count",
    "store.decode_from_store_s": "s", "store.zone_prune_s": "s",
    "store.parts_kept": "count", "decode.exec_s": "s",
    "decode.rows_decoded_per_row_returned": "ratio",
    "decode.py_sent_mb": "MiB", "decode.py_returned_mb": "MiB",
    "decode.py_run_s": "s",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.task_skew": "ratio", "spark.gc_s": "s",
    "jvm.peak_rss_mb": "MiB", "trace.overhead_s": "s",
}


# -- statistics ---------------------------------------------------------------
def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it, and never below the median: p50 until n reaches 20."""
    if n <= 0:
        raise ValueError("no samples")
    return max(50, math.floor(100.0 * (1.0 - 10.0 / n)))


def gated(trace: bool) -> list[str]:
    """The metrics BENCHMARK.json bounds (end-to-end) or lists (per
    layer): the result's ``metrics`` hold these only. The others are
    printed by name; see README.md for why each is left out."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


# -- processes ----------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mib(pid: int) -> float:
    """Peak resident set of a process (``VmHWM``), or 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / MIB
    except OSError:
        pass
    return 0.0


def reset_hwm(pid: int) -> None:
    """Reset a process's ``VmHWM`` to its current resident set."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def python_workers(jvm_pid: int) -> list[int]:
    out = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    out.append(pid)
        except OSError:
            pass
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- the JVM ------------------------------------------------------------------
def pin_environment(work: str, trace: bool) -> dict[str, str]:
    """The deployment every run uses, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [f"--driver-java-options=-Djava.io.tmpdir={tmp} "
              "-XX:-UsePerfData"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return env


class Jvm:
    """One Spark JVM: started by ``get_spark``, stopped and waited for."""

    def __init__(self):
        from tbl_spark.session import get_spark
        self.spark = get_spark()
        from pyspark import SparkContext
        self.pid = SparkContext._gateway.proc.pid

    def stop(self) -> None:
        from pyspark import SparkContext
        procs = [self.pid] + descendants(self.pid)
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()     # the JVM exits on EOF
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait(timeout=30)
            # the next get_spark() then launches a fresh JVM
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while any(alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in procs:
            if alive(p):
                os.kill(p, signal.SIGKILL)


# -- one run ------------------------------------------------------------------
class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = tr.Tracer(enabled=False)
        self.w = workloads.WORKLOADS[args.workload](work, args.seed,
                                                     self.tracer)
        self.jvm: Jvm | None = None
        self.setup_s = 0.0
        self.op_s: dict[str, float] = {}       # op id -> seconds
        self.traced_ops: set[str] = set()
        self.failed: list[str] = []            # ops that failed
        self.check_errors: list[str] = []      # the final, untimed check
        self.worker_peak: dict[str, float] = {}    # op id -> MiB
        self.store_bpt: list[float] = []
        self.layer_rows: dict[str, dict[str, float]] = {}

    def start_jvm(self) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.jvm = Jvm()
        return time.perf_counter() - t0

    def stop_jvm(self) -> None:
        if self.jvm is not None:
            self.jvm.stop()
            self.jvm = None

    def run_op(self, op_id: str, k: int, traced: bool) -> None:
        self.tracer.enabled = traced
        self.tracer.op = op_id
        spark = self.jvm.spark
        spark.sparkContext.setJobGroup(op_id, op_id)
        self.w.prepare(k)
        for pid in python_workers(self.jvm.pid):
            reset_hwm(pid)
        t0 = time.perf_counter()
        try:
            with self.w.traced_calls() if traced else nullcontext():
                self.w.op(spark, k)
        except workloads.CheckFailed as e:
            self.failed.append(f"{op_id}: {e}")
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            traceback.print_exc()
            self.failed.append(f"{op_id}: {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        self.tracer.enabled = False
        self.op_s[op_id] = dt
        self.worker_peak[op_id] = max([0.0] + [
            vm_hwm_mib(p) for p in python_workers(self.jvm.pid)])
        nbytes, files = workloads.dir_bytes(self.w.store.root)
        self.store_bpt.append(nbytes / self.w.data.n_tokens)
        if traced and op_id != "cold":
            self.traced_ops.add(op_id)
            self.layer_rows[op_id] = dict(self.w.layers(), **{
                "store.bytes": nbytes, "store.files": files})

    def execute(self) -> None:
        trace = bool(self.args.trace)
        if self.w.setup_uses_spark:
            self.start_jvm()
            self.jvm.spark.sparkContext.setJobGroup("setup", "")
        t0 = time.perf_counter()
        self.w.setup(self.jvm.spark if self.jvm else None)
        self.setup_s = time.perf_counter() - t0
        self.stop_jvm()        # the cold op gets a fresh JVM and workers

        self.tracer.op = "cold"
        self.tracer.enabled = trace
        t0 = time.perf_counter()
        self.get_spark_s = self.start_jvm()
        self.run_op("cold", 0, trace)
        self.cold_op_s = time.perf_counter() - t0

        deadline = time.perf_counter() + self.args.seconds
        k = 1
        while time.perf_counter() < deadline:
            # after op-1: plain, traced, traced, plain, ...; a steady
            # drift in op time cancels out of the tracing overhead
            self.run_op(f"op-{k}", k, trace and k % 4 in (0, 3))
            k += 1
        try:
            self.jvm.spark.sparkContext.setJobGroup("finish", "")
            self.w.finish(self.jvm.spark)
        except Exception as e:  # noqa: BLE001 - reported as incorrect
            traceback.print_exc()
            self.check_errors.append(f"{type(e).__name__}: {e}")
        if trace:
            self.codec_layer()
            self.jvm_peak = vm_hwm_mib(self.jvm.pid)
        self.stop_jvm()

    def codec_layer(self) -> None:
        """In-process encode, decode and commit of a fixed chunk set."""
        from tbl_spark.decode import decode_table
        from tbl_spark.encode import encode_table
        from tbl_spark.store import ChunkStore
        tbl = gen.generate(CODEC_CHUNKS * CODEC_DOCS, CODEC_SEED).table
        chunks = [tbl.slice(i * CODEC_DOCS, CODEC_DOCS)
                  for i in range(CODEC_CHUNKS)]
        types = {"doc_id": "string", "tokens": "array<int>",
                 "n_tok": "int", "source": "string"}
        store = ChunkStore(os.path.join(self.work, "codec-store"))
        store.init_dirs()
        self.tracer.enabled = True
        for rep in range(CODEC_REPS + 1):      # rep 0 fills the caches
            self.tracer.op = f"codecs-{rep}"
            for pid, chunk in enumerate(chunks):
                with self.tracer.span("codecs.encode_table"):
                    enc = encode_table(pid, chunk, types)
                with self.tracer.span("codecs.decode_table"):
                    decode_table(enc, chunk.column_names)
                with self.tracer.span("store.commit_chunk"):
                    store.commit_chunk(pid, enc, {"part_id": pid})
        self.tracer.enabled = False
        self.codec_mtok = sum(c.column("n_tok").to_numpy().sum()
                              for c in chunks) / 1e6

    # -- results --------------------------------------------------------------
    def warm_ops(self, traced: bool) -> list[str]:
        """Warm op ids; in a traced run, of the traced or plain ops.
        The first op after the cold one still pays JIT warm-up (it ran
        25-50 % slower than the rest) and is left out."""
        return [op for op in self.op_s
                if op not in WARM_UP and (op in self.traced_ops) == traced]

    def warm(self, traced: bool) -> list[float]:
        return [self.op_s[op] for op in self.warm_ops(traced)]

    def e2e(self) -> dict[str, float]:
        warm = self.warm(traced=False)
        return {
            "setup_s": self.setup_s,
            "cold_op_s": self.cold_op_s,
            "op_s_p50": statistics.median(warm),
            "op_s_tail": percentile(warm, tail_percentile(len(warm))),
            "store_bytes_per_token": statistics.median(self.store_bpt),
            "py_worker_peak_mb": statistics.median(
                self.worker_peak[op] for op in self.warm_ops(traced=False)),
            "op_fail_frac": len(self.failed) / len(self.op_s),
        }

    def layers(self) -> dict[str, float]:
        groups = tr.job_group_stats(
            tr.read_event_log(os.path.join(self.work, "events")))
        selft = self.tracer.self_times()
        spans: dict[tuple, float] = {}
        for s in self.tracer.spans:
            spans[(s.op, s.name)] = spans.get((s.op, s.name), 0.0) \
                + (s.end - s.start)
        traced = sorted(self.traced_ops)
        warm_ids = [op for op in self.op_s if op not in WARM_UP]

        def med(values) -> float:
            values = list(values)
            return float(statistics.median(values)) if values else 0.0

        def span_med(name, table=spans) -> float:
            return med(table.get((op, name), 0.0) for op in traced)

        def count_med(name) -> float:
            return med(self.tracer.counts.get((op, name), 0.0)
                       for op in traced)

        def row_med(name) -> float:
            return med(self.layer_rows[op].get(name, 0.0) for op in traced)

        def group_med(attr, ops=warm_ids, scale=1.0) -> float:
            return med(getattr(groups.get(op, tr.GroupStats()), attr) / scale
                       for op in ops)

        enc = self.w.name == "ingest"
        codec_reps = [f"codecs-{r}" for r in range(1, CODEC_REPS + 1)]
        tokens = self.w.data.n_tokens
        enc_bytes = self._enc_bytes()
        out = {
            "session.get_spark_s": self.get_spark_s,
            "session.py_boot_init_s": groups.get(
                "cold", tr.GroupStats()).py_boot_init_s,
            "encode.audition_s": span_med("encode.audition"),
            "store.encode_to_store_s": span_med("store.encode_to_store",
                                                selft),
            "encode.kernel_s": row_med("encode.kernel_s"),
            "encode.chunks": row_med("encode.chunks"),
            "encode.py_sent_mb": group_med("py_sent_bytes", scale=MIB)
            if enc else 0.0,
            "encode.py_returned_mb": group_med("py_returned_bytes",
                                               scale=MIB) if enc else 0.0,
            "encode.py_run_s": group_med("py_run_s") if enc else 0.0,
            "partitioning.shuffle_write_mb": group_med(
                "shuffle_write_bytes", scale=MIB),
            "partitioning.shuffle_write_s": group_med("shuffle_write_s"),
            "codecs.encode_s_per_mtok": med(
                spans.get((op, "codecs.encode_table"), 0.0)
                for op in codec_reps) / self.codec_mtok,
            "codecs.decode_s_per_mtok": med(
                spans.get((op, "codecs.decode_table"), 0.0)
                for op in codec_reps) / self.codec_mtok,
            "codecs.bytes_per_token": enc_bytes / tokens,
            "store.overhead_bytes_per_token":
                (row_med("store.bytes") - enc_bytes) / tokens,
            "store.commit_s_per_chunk": med(
                spans.get((op, "store.commit_chunk"), 0.0)
                for op in codec_reps) / CODEC_CHUNKS,
            "store.files": row_med("store.files"),
            "store.decode_from_store_s": span_med("store.decode_from_store"),
            "store.zone_prune_s": span_med("store.zone_prune"),
            "store.parts_kept": count_med("store.parts_kept"),
            "decode.exec_s": span_med("decode.exec"),
            "decode.rows_decoded_per_row_returned": count_med(
                "decode.rows_decoded_per_row_returned"),
            "decode.py_sent_mb": 0.0 if enc else group_med(
                "py_sent_bytes", scale=MIB),
            "decode.py_returned_mb": 0.0 if enc else group_med(
                "py_returned_bytes", scale=MIB),
            "decode.py_run_s": 0.0 if enc else group_med("py_run_s"),
            "spark.jobs_per_op": group_med("jobs"),
            "spark.tasks_per_op": group_med("tasks"),
            "spark.task_skew": group_med("task_skew"),
            "spark.gc_s": group_med("gc_s"),
            "jvm.peak_rss_mb": self.jvm_peak,
            "trace.overhead_s": med(self.warm(True))
            - med(self.warm(False)),
        }
        self.tracer.write(os.path.join(
            os.path.dirname(self.work),
            f"spans-{self.w.name}-seed{self.args.seed}.jsonl"))
        return out

    def _enc_bytes(self) -> float:
        from tbl_spark.inspect import store_stats
        return float(store_stats(self.w.store)["enc_bytes"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "scan", "lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tbl_spark", "__init__.py")):
        print(f"perfbench: no tbl_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    names = gated(bool(args.trace))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    run = Run(args, work)
    try:
        run.execute()
        metrics = run.layers() if args.trace else run.e2e()
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    report(run, env, metrics, names)
    return 0


def report(run: Run, env: dict[str, str], metrics: dict[str, float],
           names: list[str]) -> None:
    warm = run.warm(traced=False)
    units = LAYER_UNITS if run.args.trace else E2E_UNITS
    attempted = len(run.op_s)
    info = {
        "workload": run.args.workload, "seed": run.args.seed,
        "cpus": int(env["SPARK_GRAFT_CPUS"]), "env": env,
        "warm_ops_n": len(warm),
        "tail_percentile": tail_percentile(len(warm)),
        "op_s_all": {op: round(s, 4) for op, s in run.op_s.items()},
    }
    print("# " + json.dumps(info))
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.6f} {units[name]}")
    for f in run.failed + run.check_errors:
        print(f"FAILED {f}")
    print(json.dumps({
        "correct": not run.failed and not run.check_errors,
        "attempted": attempted,
        "failed": len(run.failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in names},
    }))


if __name__ == "__main__":
    sys.exit(main())
