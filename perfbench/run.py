"""Main-path benchmark of the engine: pip_city, tile_z9, pipeline_write.

    python3 perfbench/run.py --workload pip_city --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark writes seeded pages (see
``inputs.py``) under ``perfbench/_work``, starts one Spark session with
``get_spark()`` on ``local[<nproc>]`` with ``SPARK_GRAFT_PRETOUCH=0``
and a scan split size that cuts the input into 8 tasks per core,
builds what the workload needs, runs its untimed warm-up passes, then
repeats timed passes for ``--seconds`` (at least two). Every pass is
checked against digests computed without the engine; a pass that
raises or mismatches counts as failed.

``--trace 0`` reports the end-to-end metrics: pages_per_s (pages ÷
median pass time), setup_s (imports + session start + the index build
where the workload uses one + the warm-up passes; input
generation excluded) and worker_rss_mb (sum of VmHWM of the Python
workers after the second timed pass). The report line also gives
tiles_per_s, peak_rss_mb (the same with the Spark JVM's VmHWM added),
error_rate and bytes_stored_per_page, each
with its unit and sample count, and the share of CPU time the host
stole during the timed passes. ``--trace 1`` runs the same measurement
(for at most 10 s), then
a second session with Spark's event log on that times each layer's
prefix into the noop sink (layer self time = prefix time minus the
previous prefix), and for pip_city and tile_z9 a third session on
``local[1]`` for the 1→N scaling efficiency. Per-layer metrics a
workload does not exercise are reported as 0 and named in the report's
``absent`` field.

Expected outputs come from the NumPy references in ``inputs.py``, then
from ``pins.json`` for pinned seeds (``pin.py`` writes it), and for the
rest from the first warm-up pass.

BENCHMARK.json lists pip_city and tile_z9. pipeline_write
(``cli.run_pipeline`` into an empty root) takes 80-130 s a run on 4
cores (over 180 s traced) and runs by hand; pip_city's traced run
measures the lineage layer on its first 20k pages.
``baseline.json`` holds the figures of every workload at the commit
that added the benchmark.

stdout: a JSON report line (host shape, every metric, digests), then
the result line ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SPLITS_PER_CORE = 8  # scan tasks per core of the host


def per_layer_units() -> dict[str, str]:
    """Per-layer metric names and units, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def proc_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of one process in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            return sum(int(line.split()[1]) for line in fh if line.startswith("VmHWM:")) / 1024.0
    except OSError:
        return 0.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0 / 1024.0
    return 0.0


class Bench:
    def __init__(self, args):
        from fujishadergpu_spark import session
        from workloads import WORKLOADS

        self.args = args
        self.session_mod = session
        self.wl = WORKLOADS[args.workload]()
        self.cores = nproc()
        self.work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # ---------------------------------------------------------------- session

    def start_session(self, cores: int, eventlog: str | None = None):
        from fujishadergpu_spark.session import get_spark

        confs = {
            # several waves of small scan tasks instead of one task per
            # core: one slow core then delays a pass by a small task,
            # not by a quarter of the pass
            "spark.sql.files.maxPartitionBytes": str(max(1, self.input_bytes // (SPLITS_PER_CORE * self.cores))),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "true" if eventlog else "false",
        }
        if eventlog:
            os.makedirs(eventlog, exist_ok=True)
            confs.update({"spark.eventLog.dir": "file://" + eventlog, "spark.eventLog.compress": "false"})
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.args.workload}", master=f"local[{cores}]",
                          extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def stop_jvm() -> None:
        """End the py4j gateway JVM (and with it the Python workers)."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def peak_rss(self) -> dict:
        """VmHWM of the Spark JVM and of its Python workers (MiB)."""
        jvm, *workers = proc_tree(self.jvm_pid())
        return {"jvm": vm_hwm_mb(jvm), "workers": sum(vm_hwm_mb(p) for p in workers),
                "worker_processes": len(workers)}

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    # ---------------------------------------------------------------- passes

    def scratch_env(self) -> None:
        """Keep every Spark and Python scratch file inside the checkout."""
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # through the environment, not a Spark conf, so
        # the JVM options get_spark() chooses stay in effect
        os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp")
        self.session_mod._local_dirs = lambda: os.path.join(self.work, "spark-local")

    def prepare(self, seed: int, pages_path: str) -> None:
        """Inputs + independent references (untimed, not in setup_s)."""
        import inputs
        from fujishadergpu_spark.sources.pages import BBOX, CITY_LAT, CITY_LON, CITY_SIGMA

        t = time.perf_counter()
        self.pages_path = pages_path
        pts = inputs.make_pages(pages_path, self.wl.pages, seed, BBOX, CITY_LAT, CITY_LON, CITY_SIGMA)
        self.refs = self.wl.references(pts)
        self.input_bytes = sum(os.path.getsize(os.path.join(pages_path, f)) for f in os.listdir(pages_path))
        self.report["prepare_s"] = time.perf_counter() - t

    def expected(self, warm: dict) -> tuple[dict, list[str]]:
        """References, then pins for this seed, then the warm-up
        outputs for pinned keys with no pin."""
        with open(os.path.join(HERE, "pins.json")) as fh:
            pins = json.load(fh).get(self.wl.name, {})
        pin = pins.get("seeds", {}).get(str(self.args.seed)) if pins.get("pages") == self.wl.pages else None
        exp, errs, source = dict(self.refs), [], {}
        for k in self.wl.pinned:
            if pin and k in pin:
                if k in exp and exp[k] != pin[k]:
                    errs.append(f"pin {k}={pin[k]} disagrees with the reference {exp[k]}")
                exp[k] = pin[k]
                source[k] = "pin"
            elif k not in exp:
                exp[k] = warm[k]
                source[k] = "warm-up"
            else:
                source[k] = "reference"
        self.report["expected_from"] = source
        return exp, errs

    def one_pass(self):
        t = time.perf_counter()
        raw = self.wl.run_pass()
        dt = time.perf_counter() - t
        return dt, self.wl.outputs(raw)

    def measure(self, seconds: float, expected: dict | None) -> dict:
        """Timed passes until ``seconds`` have passed (at least two)."""
        times, failed, outs, rss = [], 0, [], None
        t0, steal0 = time.perf_counter(), cpu_steal_s()
        while len(times) + failed < 2 or time.perf_counter() - t0 < seconds:
            try:
                dt, out = self.one_pass()
                errs = self.wl.check(out, expected) if expected else []
            except Exception:  # a pass that raises is a failed pass
                log(traceback.format_exc())
                errs = ["pass raised"]
            if errs:
                log(f"failed pass: {errs}")
                failed += 1
            else:
                times.append(dt)
                outs.append(out)
            if len(times) + failed == 2:
                # memory after a fixed amount of work: later passes keep
                # growing the heap, and how many run depends on host speed
                rss = self.peak_rss()
        return {"times": times, "failed": failed, "outs": outs, "rss": rss,
                "steal_share": (cpu_steal_s() - steal0) / (self.cores * (time.perf_counter() - t0))}

    # ---------------------------------------------------------------- modes

    def untraced(self) -> dict:
        """Setup, warm-up and the timed passes; returns e2e metrics."""
        imports_s = time.perf_counter() - _T0
        self.scratch_env()
        self.prepare(self.args.seed, os.path.join(self.work, "pages"))
        session_s = self.start_session(self.cores)
        self.wl.setup(self.spark, self.pages_path, self.work)
        index_s = 0.0
        if self.wl.uses_index:
            t = time.perf_counter()
            self.wl.build_index()
            index_s = time.perf_counter() - t
        from workloads import PASS, tagged

        tagged(self.spark, PASS)
        # untimed passes: the first pass after session start runs ~3x
        # slow, the next ones still slower while the JIT compiles
        warm_s, warm = self.one_pass()
        warm_times = [warm_s]
        expected, errs = self.expected(warm)
        errs += self.wl.check(warm, expected)
        for _ in range(self.wl.warmup_passes - 1):
            dt, out = self.one_pass()
            warm_times.append(dt)
            errs += self.wl.check(out, expected)
        setup_s = imports_s + session_s + index_s + sum(warm_times)
        # a traced run only needs this rate as the base of
        # trace.rate_ratio; the cap keeps it within 180 s
        seconds = min(self.args.seconds, 10) if self.args.trace else self.args.seconds
        run = self.measure(seconds, expected)
        times = run["times"]
        med = statistics.median(times) if times else float("inf")
        last = run["outs"][-1] if run["outs"] else warm
        tiles = self.wl.tiles(last)
        stored = last.get("bytes_stored")
        rss = run["rss"]
        attempted = len(times) + run["failed"]
        e2e = {
            "pages_per_s": (self.wl.pages / med, "pages/s"),
            "setup_s": (setup_s, "s"),
            "worker_rss_mb": (rss["workers"], "MB"),
        }
        # every end-to-end figure with its sample count; the gated ones
        # above must never read 0, so the rest are reported here only
        # (None where the workload has no such output). peak_rss_mb is
        # not gated: the JVM's part follows G1's heap sizing under the
        # 24g max heap and differed up to 1.9x between runs of the same code
        n = len(times)
        end_to_end = {
            "pages_per_s": {"value": e2e["pages_per_s"][0], "unit": "pages/s", "samples": n},
            "tiles_per_s": {"value": tiles / med if tiles else None, "unit": "tiles/s", "samples": n},
            "setup_s": {"value": setup_s, "unit": "s", "samples": 1},
            "worker_rss_mb": {"value": rss["workers"], "unit": "MB", "samples": 1},
            "peak_rss_mb": {"value": rss["jvm"] + rss["workers"], "unit": "MB", "samples": 1},
            "error_rate": {"value": run["failed"] / attempted, "unit": "ratio", "samples": attempted},
            "bytes_stored_per_page": {"value": stored / self.wl.pages if stored else None,
                                      "unit": "B/page", "samples": 1},
        }
        self.report.update({
            "host": self.host_shape(),
            "pages": self.wl.pages,
            "end_to_end": end_to_end,
            "setup_parts_s": {"imports": imports_s, "session": session_s,
                              "index_build": index_s, "warmup_passes": warm_times},
            "rss_mb": rss,
            "pass_times_s": times,
            "pass_quartiles_s": statistics.quantiles(times, n=4) if n >= 2 else times,
            "cpu_steal_share": run["steal_share"],
            "failed": run["failed"],
            "warmup_errors": errs,
            "digests": {k: v for k, v in last.items() if isinstance(v, list)},
        })
        self.attempted = attempted
        self.failed = run["failed"]
        self.correct = not errs and run["failed"] == 0 and bool(times)
        self.session_s = session_s
        return e2e

    def traced(self, e2e: dict) -> dict:
        """Layer prefixes under the event log, then local[1] scaling."""
        import eventlog
        from workloads import PASS, tagged

        untraced_rate = e2e["pages_per_s"][0]
        m = {"session.start_s": self.session_s}
        self.stop_session()
        log_dir = os.path.join(self.work, "eventlog")
        self.start_session(self.cores, eventlog=log_dir)
        self.wl.setup(self.spark, self.pages_path, self.work)
        if self.wl.uses_index:
            tagged(self.spark, "index")
            t = time.perf_counter()
            self.wl.build_index()
            m["pip_join.index_build_s"] = time.perf_counter() - t
        tagged(self.spark, "warmup")
        self.one_pass()
        tagged(self.spark, PASS)
        run = self.measure(0, None)
        m["trace.pages_per_s"] = self.wl.pages / statistics.median(run["times"])
        m["trace.rate_ratio"] = m["trace.pages_per_s"] / untraced_rate
        self.wl.trace(m)
        self.stop_session()

        groups = eventlog.parse(log_dir)
        m["spark.gc_s"] = groups[PASS].total("gc_ms") / 1000.0 / len(run["times"])
        for layer, (group, reps) in self.wl.event_groups.items():
            g = groups[group]
            m[f"{layer}.python_run_s"] = g.sql(eventlog.PY_RUN) / 1e3 / reps
            m[f"{layer}.shuffle_write_bytes"] = g.total("shuffle_write_bytes") / reps
            if layer == "pip_join":
                m["pip_join.python_bytes_sent"] = g.sql(eventlog.PY_SENT) / reps
                continue
            m["tile_kernels.python_start_s"] = g.sql(eventlog.PY_START) / 1e3 / reps
            m["tile_kernels.spill_bytes"] = g.total("spill_bytes") / reps
            m["tile_kernels.task_skew"] = g.task_skew()
            m["tile_kernels.per_group_ms"] = g.sql(eventlog.PY_RUN) / reps / m["tile_kernels.groups"]
        stages = [groups.get(f"lineage.{s}") for s in ("points", "pip", "tiles")]
        if all(stages):
            m["lineage.jobs_per_stage"] = sum(g.jobs for g in stages) / len(stages)
        if self.wl.name in ("pip_city", "tile_z9"):
            key = "scaling.pip_eff_1to4" if self.wl.name == "pip_city" else "scaling.tile_eff_1to4"
            m[key] = self.scaling(untraced_rate)
        per_layer = per_layer_units()
        self.report["absent"] = {
            k: f"{k.split('.')[0]} is not measured on {self.wl.name}; the other workload's traced run has it"
            for k in per_layer if k not in m}
        self.report["event_groups"] = {k: {"jobs": g.jobs, "stages": len(g.stages)} for k, g in groups.items()}
        return {k: (m.get(k, 0.0), u) for k, u in per_layer.items()}

    def scaling(self, rate_n: float) -> float:
        """(rate@N ÷ rate@1) ÷ N: one warm pass on ``local[1]``."""
        self.start_session(1)
        self.wl.setup(self.spark, self.pages_path, self.work)
        if self.wl.uses_index:
            self.wl.build_index()
        full = self.wl.pts
        self.wl.pts = full.limit(2000)  # warm the new Python workers cheaply
        self.wl.run_pass()
        self.wl.pts = full
        dt, _ = self.one_pass()
        self.stop_session()
        rate_1 = self.wl.pages / dt
        self.report["scaling"] = {"cores": self.cores, "rate_n": rate_n, "rate_1": rate_1}
        return rate_n / rate_1 / self.cores

    def host_shape(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": self.cores,
            "mem_total_gb": round(mem_total_gb(), 2),
            "pyspark": pyspark.__version__,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pip_city", "tile_z9", "pipeline_write"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    os.environ["SPARK_GRAFT_PRETOUCH"] = "0"  # the default 24 GB pre-touch needs ~24 GB RAM
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    try:
        bench = Bench(args)
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    try:
        e2e = bench.untraced()
        metrics = bench.traced(e2e) if args.trace else e2e
    finally:
        bench.stop_session()
        bench.stop_jvm()
        shutil.rmtree(bench.work, ignore_errors=True)
    bench.report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(bench.report))
    print(json.dumps({
        "correct": bench.correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": bench.report["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
