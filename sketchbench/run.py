"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the repository root::

    python3 sketchbench/run.py --workload ids_unique --seed 1 --seconds 1 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off: one
cold job pass in a fresh session.
``--trace 1`` also enables Spark's event log and, after the job pass,
alternates traced and untraced warm passes; it reports the per-layer
metrics (also written, with every span, to
``.sketchbench/results/<workload>-s<seed>-layers.json``). Both modes
check the job's outputs against the oracle and exit 1 on any mismatch;
the last line of stdout is then the JSON result.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

WORK = ".sketchbench"
CORES = 4          # local[4]: one task slot per core of the reference box

# Times are CPU seconds of the whole run (driver, JVM, Python workers):
# on a shared box the wall clock also counts CPU steal and scheduling
# waits that the neighbours' load causes. Wall times are reported beside
# them (``#`` lines, the result record and the per-layer ledger).
END_TO_END = (
    ("setup_s", "s"), ("job_cpu_s", "s"),
    ("build_keys_per_cpu_s", "keys/cpu-s"), ("probe_keys_per_cpu_s", "keys/cpu-s"),
    ("fpr_over_bound", "ratio"), ("bits_per_key", "bits"), ("driver_rss_mb", "MB"),
)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _proc_status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


class Session:
    """One SparkSession at a time, started in-process; ``close`` stops
    the session, the JVM and its Python workers and waits for them."""

    def __init__(self, work: str, trace: bool):
        self.work, self.trace = work, trace
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def start(self):
        from cuckoofilter_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + os.path.abspath(self.event_dir)})
        self.spark = get_spark(app="sketchbench", cores=CORES,
                               shuffle_partitions=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc else None

    def event_log(self) -> tuple:
        return self.event_dir, self.spark.sparkContext.applicationId

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _box() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"nproc": os.cpu_count(), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "machine": platform.machine()}


class Bench:
    def __init__(self, args, root: str):
        from sketchbench.trace import Tracer, cpu_s
        from sketchbench.workloads import WORKLOADS

        self.args = args
        self.work = os.path.join(root, WORK)
        self.wl = WORKLOADS[args.workload]()
        self.wl.work = os.path.join(self.work, "work", f"{args.workload}-{os.getpid()}")
        self.sess = Session(self.work, bool(args.trace))
        self.run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.Tracer, self.cpu = Tracer, cpu_s

    def prepare_inputs(self, root: str) -> None:
        """Generate the inputs in a child process, so that the
        generator's memory never counts in this process's peak RSS."""
        from sketchbench import gen

        cache = os.path.join(self.work, "inputs")
        args = [cache, self.wl.name, str(self.args.seed), str(self.wl.size)]
        t0, c0 = time.perf_counter(), self.cpu()
        if not gen.is_cached(*args):
            subprocess.run([sys.executable, "-m", "sketchbench.gen", *args],
                           cwd=root, check=True)
        self.inputs, self.manifest = gen.ensure_inputs(
            cache, self.wl.name, self.args.seed, self.wl.size)
        self.gen_wall, self.gen_cpu = time.perf_counter() - t0, self.cpu() - c0

    def set_up(self) -> None:
        """Process start to ready: interpreter and JVM start, Python-worker
        warm-up and opening the inputs (input generation excluded: it is
        cached per seed)."""
        from cuckoofilter_spark.session import warm_python_workers

        t0 = time.perf_counter()
        spark = self.sess.start()
        t1 = time.perf_counter()
        warm_python_workers(spark)
        t2 = time.perf_counter()
        self.wl.open(spark, self.inputs, self.manifest)
        t3 = time.perf_counter()
        self.setup = {"cpu_s": self.cpu() - self.gen_cpu, "start_s": t1 - t0,
                      "warm_s": t2 - t1, "open_s": t3 - t2,
                      "wall_s": t3 - T_PROCESS - self.gen_wall}
        self.spark = spark
        self.tr = self.Tracer(bool(self.args.trace), self.run_id,
                              spark.sparkContext)

    def _pass(self, tr, mode: str) -> None:
        if mode in self.last:  # only the last pass of a mode is kept
            self.wl.release(self.last.pop(mode))
        tr.new_pass()
        c0, t0 = self.cpu(), time.perf_counter()
        if tr.enabled:
            with tr.span("pass", None, index=len(self.passes[mode])):
                out = self.wl.run_pass(self.spark, tr)
        else:
            out = self.wl.run_pass(self.spark, tr)
        self.passes[mode].append({"wall": time.perf_counter() - t0,
                                  "cpu": self.cpu() - c0, "steps": dict(tr.steps),
                                  "steps_cpu": dict(tr.steps_cpu)})
        self.last[mode] = out

    def measure(self) -> None:
        """The job's first run in the fresh session (its cold pass) gives
        the end-to-end metrics; the peak RSS of the driver process and of
        its JVM are read right after it, before the oracle allocates
        anything. Only the traced run goes on: it alternates traced and
        untraced warm passes (at least one each, then until ``--seconds``
        have elapsed), so the difference of their medians is the tracing
        overhead."""
        plain = self.Tracer(False, self.run_id)
        self.passes = {"job": [], "plain": [], "traced": []}
        self.last = {}
        deadline = time.perf_counter() + self.args.seconds
        self._pass(plain, "job")
        self.rss_mb = {
            "driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm": _proc_status_kb(self.sess.jvm_pid(), "VmHWM") / 1024.0}
        if not self.args.trace:
            return
        modes, i = ("traced", "plain"), 0
        while time.perf_counter() < deadline or i < len(modes):
            mode = modes[i % len(modes)]
            self._pass(self.tr if mode == "traced" else plain, mode)
            i += 1

    def end_to_end(self, quality: dict) -> dict:
        job = self.passes["job"][0]
        keys = self.wl.throughput_keys()

        def rate(kind, clock):
            n, steps = keys[kind]
            return n / sum(job[clock][s] for s in steps)

        return {
            "setup_s": self.setup["cpu_s"],
            "job_cpu_s": job["cpu"],
            "build_keys_per_cpu_s": rate("build", "steps_cpu"),
            "probe_keys_per_cpu_s": rate("probe", "steps_cpu"),
            "fpr_over_bound": quality["fpr_over_bound"],
            "bits_per_key": quality["bits_per_key"],
            "driver_rss_mb": self.rss_mb["driver"],
            # companions, reported but not gated
            "jvm_rss_mb": self.rss_mb["jvm"],
            "setup_wall_s": self.setup["wall_s"],
            "wall_s": job["wall"],
            "build_keys_per_s": rate("build", "steps"),
            "probe_keys_per_s": rate("probe", "steps"),
        }

    def close(self) -> None:
        self.sess.close()
        shutil.rmtree(self.wl.work, ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cuckoofilter_spark", "__init__.py")):
        print("sketchbench: cuckoofilter_spark/ not found in the working "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from sketchbench.oracle import Checks
    from sketchbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"sketchbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the library and this package from the root;
    # temporary files of every process stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (the spark-submit launcher and the driver)
    # keeps its temp files in the checkout and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}",
         "-XX:-UsePerfData"]).strip()

    bench = Bench(args, root)
    chk = Checks()
    try:
        bench.prepare_inputs(root)
        bench.set_up()
        bench.measure()
        quality = bench.wl.check(bench.spark, bench.last["job"], chk)
        metrics = bench.end_to_end(quality)
        layers = None
        if args.trace:
            from sketchbench import layers as layer_mod

            detail = bench.wl.layer_detail(bench.spark, bench.last["traced"])
            event_dir, app_id = bench.sess.event_log()
            bench.sess.stop()  # flushes the event log
            layers = layer_mod.per_layer(bench, detail, quality, (event_dir, app_id))
            shutil.rmtree(os.path.join(event_dir, f"eventlog_v2_{app_id}"),
                          ignore_errors=True)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.close()

    box = _box()
    res_dir = os.path.join(work, "results")
    os.makedirs(res_dir, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "box": box,
              "setup": bench.setup, "passes": bench.passes,
              "checks": chk.rows, "end_to_end": metrics,
              "gen_s": bench.manifest.get("gen_s"), "quality": quality}
    if layers is not None:
        record["per_layer"] = layers
        with open(os.path.join(res_dir, f"{args.workload}-s{args.seed}-layers.json"), "w") as f:
            json.dump(dict(record, spans=bench.tr.spans), f, indent=1)
    with open(os.path.join(res_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"# {args.workload} seed={args.seed} box={json.dumps(box)}")
    for c in chk.rows:
        if c["failed"]:
            print(f"# CHECK FAILED {json.dumps(c)}")
    units = dict(END_TO_END, jvm_rss_mb="MB", setup_wall_s="s", wall_s="s",
                 build_keys_per_s="keys/s", probe_keys_per_s="keys/s")
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    shown = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}
    if layers is not None:
        from sketchbench.layers import names

        shown = {k: {"value": layers[k], "unit": u} for k, u in names()}
        for k, v in shown.items():
            print(f"# {k} = {v['value']:.6g} {v['unit']}")
    ok = chk.failed == 0
    print(json.dumps({"correct": ok, "attempted": max(1, chk.attempted),
                      "failed": chk.failed, "metrics": shown}))
    sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
