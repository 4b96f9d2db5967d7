#!/usr/bin/env python3
"""Point-in-time feature benchmark (closed loop, one client).

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 7 --trace 0

One driver process at ``local[4]`` runs the workload's passes back to back
through the package's public entry points; every pass's output is checked
(perfbench/verify.py). Order of a run:

1. inputs are generated from ``--seed`` in a separate process and cached
   (perfbench/gen.py) -- outside everything measured;
2. set-up (session start, Python worker warm-up, input registration)
   launches the JVM; the cold pass right after it is ``first_pass_s``;
3. two warm-up passes are discarded; then passes run for ``--seconds``
   (at least three) and ``pass_s`` is their median;
4. with ``--trace 1`` one more pass runs with layer spans (perfbench/trace.py)
   and the per-layer metrics are printed instead of the end-to-end ones;
5. the session is stopped and set up twice more in the warm JVM;
   ``setup_s`` is the median of the three set-ups.

The last stdout line is the result JSON: ``correct``, ``attempted`` (passes),
``failed`` (passes that raised or failed their check) and ``metrics``. The
line before it holds the details: every pass with its load and steal stamps,
and the workload's own figures (probes_per_s, resume_s, noop_rerun_s,
write_amp, error_rate). ``--smoke`` runs tiny inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
SETUPS = 3
# passes dropped after the first one while the JIT compiles the hot paths;
# a count, not a time or a level test, so every run measures the same passes
WARMUP = 2
MIN_STEADY = 3
DRIVER_MEM = "1536m"
UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
         "turns_per_s": "1/s", "peak_rss_mb": "MB"}


class HostMonitor:
    """Peak memory of this process's descendants (the JVM and its Python
    workers), sampled from /proc, plus per-pass host stamps.

    Memory is the proportional set size: pages the forked Python workers
    share with each other count once in the sum, not once per worker."""

    # one sample reads the JVM's smaps_rollup, about 30 ms of kernel time on
    # a 1.5 GB heap; once a second that costs the passes ~3% of one core
    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._tick = os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) << 10
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            total = sum(self._pss(p) for p in self._descendants())
            self.peak_bytes = max(self.peak_bytes, total)

    def stamp(self) -> dict:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        steal = int(cpu[8]) if len(cpu) > 8 else 0
        return {"load1": os.getloadavg()[0], "steal_s": steal / self._tick}


def _forget_jvm_udfs() -> None:
    """Drop the JVM functions that module-level pandas UDFs cache on first
    use: they hold the stopped context's accumulator, whose server is gone,
    and every task of the next context would log a failed update to it.
    A one-shot job never restarts its context, so never pays this."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("tgist_features_spark"):
            continue
        for obj in list(vars(mod).values()):
            udf = getattr(obj, "_unwrapped", None)
            if udf is not None and hasattr(udf, "_judf_placeholder"):
                udf._judf_placeholder = None


def _stop_jvm() -> None:
    """End the JVM this process launched (it exits when its stdin closes)
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Runner:
    def __init__(self, workload, monitor: HostMonitor, conf: dict):
        self.wl = workload
        self.mon = monitor
        self.conf = conf
        self.spark = None
        self.passes: list[dict] = []

    # -- session ----------------------------------------------------------
    def setup(self) -> dict:
        from tgist_features_spark import get_spark
        from tgist_features_spark.session import warm_python_workers

        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{CORES}]", app_name="perfbench",
                               extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_python_workers(self.spark)
        t2 = time.perf_counter()
        self.wl.register(self.spark)
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "start_s": t1 - t0, "warm_s": t2 - t1,
                "register_s": t3 - t2}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            _forget_jvm_udfs()


    # -- passes -----------------------------------------------------------
    def one_pass(self, phase: str, fn=None) -> dict:
        """Run one pass (timed), then its check (untimed)."""
        rec = {"phase": phase, "start": self.mon.stamp()}
        info = {}
        t0 = time.perf_counter()
        try:
            info = (fn or self.wl.run_pass)()
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = self.mon.stamp()
            problems = self.wl.check(info)
            rec["check_s"] = time.perf_counter() - t0 - rec["wall_s"]
        except Exception:  # a failed pass is counted, the run goes on
            rec.setdefault("wall_s", time.perf_counter() - t0)
            problems = [traceback.format_exc(limit=3)]
        rec["problems"] = problems or []
        rec["info"] = info
        self.passes.append(rec)
        return rec

    def steady(self, seconds: float) -> list[dict]:
        """Drop WARMUP passes; the steady window then runs passes for
        ``seconds``, at least MIN_STEADY of them."""
        for _ in range(WARMUP):
            self.one_pass("warmup")
        window = []
        while sum(r["wall_s"] for r in window) < seconds or len(window) < MIN_STEADY:
            window.append(self.one_pass("steady"))
        return window


def _make_dirs(workload: str) -> tuple[str, dict]:
    run_dir = os.path.join(WORK, "run", f"{workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": tmp,
        # the whole heap is committed and touched at launch, so the JVM's
        # resident size does not follow the collector's resizing decisions
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} "
                                         "-XX:+AlwaysPreTouch",
    }
    return run_dir, conf


def _generate(workload: str, seed: int, smoke: bool) -> str:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"),
           "--workload", workload, "--seed", str(seed)] + (["--smoke"] if smoke else [])
    res = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=170)
    return res.stdout.strip().splitlines()[-1]


def run(args) -> dict:
    data_dir = _generate(args.workload, args.seed, args.smoke)
    run_dir, conf = _make_dirs(args.workload)
    # Python workers must import the package from this checkout, whatever
    # the cwd; the JVM passes the environment on to them
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = conf["spark.local.dir"]

    from perfbench.workloads import PER_LAYER, WORKLOADS, all_layer_metrics

    wl = WORKLOADS[args.workload](data_dir, run_dir)
    try:
        with HostMonitor() as mon:
            r = Runner(wl, mon, conf)
            try:
                setups = [r.setup()]
                first = r.one_pass("first")
                steady = r.steady(args.seconds)
                layers = _traced(r, steady, all_layer_metrics) if args.trace else None
                # the other set-ups restart the session in the warm JVM once
                # the passes are done, so no pass runs on freshly forked workers
                for _ in range(SETUPS - 1):
                    r.stop()
                    setups.append(r.setup())
            finally:
                r.stop()
                _stop_jvm()
            peak_mb = mon.peak_bytes / (1 << 20)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    walls = [p["wall_s"] for p in steady]
    turns_per_s, details = wl.summary(walls, [p["info"] for p in steady])
    failed = sum(bool(p["problems"]) for p in r.passes)
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "first_pass_s": first["wall_s"],
        "pass_s": statistics.median(walls),
        "turns_per_s": turns_per_s,
        "peak_rss_mb": peak_mb,
    }
    details.update(error_rate=failed / len(r.passes), n_steady=len(walls),
                   setups=setups, passes=[{k: v for k, v in p.items() if k != "info"}
                                          for p in r.passes])
    if layers is not None:
        layers["session.start_s"] = statistics.median(s["start_s"] for s in setups)
        layers["session.worker_warm_s"] = statistics.median(s["warm_s"] for s in setups)
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    return {"details": {"workload": args.workload, "seed": args.seed,
                        "end_to_end": e2e, **details},
            "result": {"correct": failed == 0, "attempted": len(r.passes),
                       "failed": failed, "metrics": metrics}}


def _traced(r: Runner, steady: list[dict], all_layer_metrics) -> dict:
    from perfbench.trace import SparkMonitor, Tracer

    sc = r.spark.sparkContext
    tracer = Tracer(sc, f"{r.wl.name}-{os.getpid()}")
    rec = r.one_pass("traced", lambda: r.wl.traced_pass(tracer))
    names = {s.name for s in tracer.spans}
    groups = SparkMonitor(sc).collect(names)
    overhead = rec["wall_s"] - statistics.median(p["wall_s"] for p in steady)
    layers = all_layer_metrics(r.wl, tracer, groups, rec["info"], overhead)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{tracer.trace_id}.json"))
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "materialize"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for self-tests")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tgist_features_spark")):
        print(f"perfbench: no tgist_features_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out = run(args)
    print(json.dumps(out["details"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
