"""Pinned-binary interleaved A/B bench harness (r4 verdict #1, kept
as a standing tool per #10).

Checks out nothing itself: point it at two WORKTREES of the commits
to compare (git worktree add /tmp/ab_r3 <sha>), then alternate probe
invocations r3,r4,r3,r4,... in one window so ambient host noise hits
both arms symmetrically, and analyze PAIRED per-cycle deltas — the
only reading that survives this host's documented 8-17x run-to-run
interference (BENCH/LOCAL_CLUSTER.md).

Usage:
  python tools/bench_ab.py probe <arm> <cycle> <log>   # run from PYTHONPATH=<tree>
  python tools/bench_ab.py drive --tree-a /tmp/ab_r3 --tree-b /tmp/ab_r4 \
      --cycles 8 --log /tmp/ab/ab_log.jsonl
  python tools/bench_ab.py drive --perfbench tile_z9 --tree-a A --tree-b B \
      --cycles 3 --log /tmp/ab/tile_z9.jsonl
  python tools/bench_ab.py analyze /tmp/ab/ab_log.jsonl

--perfbench <workload> replaces the probe by the gated benchmark: each
arm runs ``perfbench/run.py --workload <workload> --seed <cycle>
--seconds 20 --trace 0`` from its own tree root, and the log keeps the
run's result line. ``analyze`` then prints each pair's b/a ratio and
each arm's median of pages_per_s, setup_s and worker_rss_mb.

The probe runs the focused headline queries (2 reps each) + the
1M-page PIP pipeline (2 reps) with bench.py's warmup recipe; each
probe is a fresh JVM (same recipe both arms). Raw rep lists are
retained in the log so every reading carries its own noise gauge;
the analyzer reports per-cycle min-of-reps, per-arm min/median, and
the median PAIRED delta per query. Generated logs are raw artifacts —
curate conclusions by hand into BENCH/ (never let a tool overwrite a
curated record; see the round-4 clobber incident)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import defaultdict

PROBE_QUERIES = [
    "q1_pricing_summary", "q5_local_supplier", "geo_knn_k5",
    "ann_topk_cosine", "tile_hillshade_z6", "geo_pip_zones",
    # round-5 text family (r5 verdict #3): both arms must have these
    # registered — true for any tree at or after the round-5 head
    "span_dedup_docs", "line_dedup_docs", "bm25_topk_docs",
    # round-6 session-4 link-graph/ingest family: both arms must be at
    # or after the round-6 session-4 head to carry these
    "web_pagerank", "warc_roundtrip_docs",
]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PAGES = os.environ.get(
    "SPARK_GRAFT_AB_PAGES", "/tmp/fujishader_bench/pages_1000000.parquet"
)


def probe(arm: str, cycle: int, logfile: str) -> None:
    from pyspark.sql import functions as F

    from fujishadergpu_spark import queries as Q
    from fujishadergpu_spark.functions import geoparse
    from fujishadergpu_spark.operators.pip_join import PipIndex, pip_join
    from fujishadergpu_spark.session import get_spark
    from fujishadergpu_spark.sources.polygons import polygons

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    spark = get_spark(app_name=f"ab_{arm}_{cycle}")
    spark.sparkContext.setLogLevel("ERROR")
    materialize(Q.QUERIES["q6_revenue_delta"](spark, SF_DIR))
    materialize(Q.QUERIES["tile_hillshade_z6"](spark, SF_DIR).limit(1))

    out = {"arm": arm, "cycle": cycle, "queries": {}, "t0": time.time()}
    for name in PROBE_QUERIES:
        if name not in Q.QUERIES:
            # older arm predating this probe: record absence, keep the
            # cycle comparable on the shared probes
            out["queries"][name] = None
            continue
        reps = []
        for _ in range(2):
            t = time.time()
            materialize(Q.QUERIES[name](spark, SF_DIR))
            reps.append(round(time.time() - t, 3))
        out["queries"][name] = reps

    pg = spark.read.parquet(PAGES)
    pts = geoparse.geoparse(pg).select(F.xxhash64("url").alias("id"), "lat", "lon")
    pol = polygons(spark)
    idx = PipIndex(pol)
    pip_join(pts, pol, index=idx).count()  # warm
    reps = []
    for _ in range(2):
        t = time.time()
        n = pip_join(pts, pol, index=idx).count()
        reps.append(round(time.time() - t, 3))
    out["pip"] = reps
    out["pip_rows"] = n
    # the bench's tile-assignment pipeline itself (r6 verdict #2: the
    # tiles/sec drop had no paired probe) — geoparse -> rasterize ->
    # hillshade at bench.py's TILE_Z over the same 1M pages
    from fujishadergpu_spark.operators.tile_kernels import tile_kernel_stats

    tile_kernel_stats(pts, 7, kernel="hillshade", log_scale=True).count()  # warm
    reps = []
    for _ in range(2):
        t = time.time()
        nt = tile_kernel_stats(pts, 7, kernel="hillshade", log_scale=True).count()
        reps.append(round(time.time() - t, 3))
    out["tile"] = reps
    out["tile_rows"] = nt
    out["t1"] = time.time()
    spark.stop()
    with open(logfile, "a") as f:
        f.write(json.dumps(out) + "\n")
    print("done", arm, cycle, out["queries"], out["pip"])


def perfbench(arm: str, cycle: int, tree: str, workload: str, logfile: str):
    """One gated-benchmark run from ``tree``'s root; appends its
    result line (or None when the run printed none) to the log."""
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(cycle), "--seconds", "20", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, timeout=900, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    with open(logfile, "a") as f:
        f.write(json.dumps({"arm": arm, "cycle": cycle, "tree": tree,
                            "workload": workload, "result": result}) + "\n")
    return proc.returncode


def drive(tree_a: str, tree_b: str, cycles: int, log: str, workload: str | None = None) -> None:
    if os.path.dirname(log):
        os.makedirs(os.path.dirname(log), exist_ok=True)
    open(log, "w").close()
    me = os.path.abspath(__file__)
    for c in range(1, cycles + 1):
        # alternate within-cycle order (a,b / b,a) so any interference
        # with within-cycle phase correlation (a co-tenant periodic
        # job, decaying page cache) cancels across cycles instead of
        # biasing every paired delta the same way
        order = (("a", tree_a), ("b", tree_b)) if c % 2 else (("b", tree_b), ("a", tree_a))
        for arm, tree in order:
            env = dict(os.environ, PYTHONPATH=tree)
            try:
                if workload:
                    rc = perfbench(arm, c, tree, workload, log)
                else:
                    rc = subprocess.call(
                        [sys.executable, me, "probe", arm, str(c), log],
                        env=env, timeout=900,
                        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                    )
            except subprocess.TimeoutExpired:
                # one pathological probe must not abort the whole
                # bench window — record it and keep pairing
                rc = "timeout"
            print(f"cycle {c} arm {arm} ({tree}) rc={rc}", flush=True)
    print("AB_DONE")


def _med(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


PERFBENCH_METRICS = ("pages_per_s", "setup_s", "worker_rss_mb")


def analyze_perfbench(rows: list[dict], a: str, b: str) -> None:
    """Per pair: the b/a ratio of each metric; per arm: its median, the
    runs whose every pass was correct, and the passes attempted and
    failed."""
    runs = defaultdict(dict)  # cycle -> arm -> metrics (None: no result)
    passes = defaultdict(lambda: [0, 0, 0])  # arm -> [correct runs, attempted, failed]
    for r in rows:
        res = r["result"]
        runs[r["cycle"]][r["arm"]] = res and {m: res["metrics"][m]["value"] for m in PERFBENCH_METRICS}
        if res:
            p = passes[r["arm"]]
            p[0] += bool(res["correct"])
            p[1] += res["attempted"]
            p[2] += res["failed"]
    print(f"workload {rows[0]['workload']}: b/a ratio per pair")
    print(f"{'cycle':>5} " + " ".join(f"{m + ' ' + x:>20}" for m in PERFBENCH_METRICS for x in (a, b, "b/a")))
    for c, arms in sorted(runs.items()):
        if not (arms.get(a) and arms.get(b)):
            print(f"{c:>5} missing result: {sorted(k for k, v in arms.items() if not v)}")
            continue
        cells = []
        for m in PERFBENCH_METRICS:
            x, y = arms[a][m], arms[b][m]
            cells += [f"{x:20.1f}", f"{y:20.1f}", f"{y / x:20.3f}"]
        print(f"{c:>5} " + " ".join(cells))
    for arm in (a, b):
        ms = [v[arm] for v in runs.values() if v.get(arm)]
        meds = ", ".join(f"{m} {_med([x[m] for x in ms]):.1f}" for m in PERFBENCH_METRICS) if ms else "no runs"
        cor, att, fail = passes[arm]
        print(f"arm {arm} median over {len(ms)} runs: {meds}; "
              f"runs correct {cor}/{len(ms)}, passes attempted {att}, failed {fail}")


def analyze(logpath: str) -> None:
    rows = [json.loads(line) for line in open(logpath)]
    arms = sorted({r["arm"] for r in rows})
    assert len(arms) == 2, f"need exactly 2 arms, got {arms}"
    a, b = arms
    if "workload" in rows[0]:
        analyze_perfbench(rows, a, b)
        return
    by = defaultdict(dict)
    for r in rows:
        extra = [("pip", r["pip"])] + ([("tile", r["tile"])] if "tile" in r else [])
        for name, reps in list(r["queries"].items()) + extra:
            if reps is None:  # probe absent in this arm's registry
                continue
            by[name].setdefault(r["cycle"], {})[r["arm"]] = min(reps)
    print(f"{'query':24} {a+' min':>8} {a+' med':>8} {b+' min':>8} {b+' med':>8} "
          f"{'med paired d':>13}  per-cycle deltas (b-a)")
    for name, cyc in by.items():
        pairs = [(v[a], v[b]) for v in cyc.values() if a in v and b in v]
        if not pairs:
            continue
        xs = [p[0] for p in pairs]
        ys = [p[1] for p in pairs]
        ds = [round(y - x, 2) for x, y in pairs]
        print(f"{name:24} {min(xs):8.2f} {_med(xs):8.2f} {min(ys):8.2f} {_med(ys):8.2f} "
              f"{_med(ds):13.2f}  {ds}")


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    if cmd == "probe":
        probe(sys.argv[2], int(sys.argv[3]), sys.argv[4])
    elif cmd == "drive":
        import argparse

        ap = argparse.ArgumentParser()
        ap.add_argument("cmd")
        ap.add_argument("--tree-a", required=True)
        ap.add_argument("--tree-b", required=True)
        ap.add_argument("--cycles", type=int, default=8)
        ap.add_argument("--log", default="/tmp/ab/ab_log.jsonl")
        ap.add_argument("--perfbench", metavar="WORKLOAD", help="run perfbench/run.py instead of the probe")
        args = ap.parse_args()
        drive(args.tree_a, args.tree_b, args.cycles, args.log, args.perfbench)
    elif cmd == "analyze":
        analyze(sys.argv[2])
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
