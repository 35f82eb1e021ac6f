"""Pin per-seed output digests into pins.json.

    python3 perfbench/pin.py --seeds 0-31 --workloads pip_city,tile_z9

One session per workload; for each seed: generate the pages, run one
pass, check it against the NumPy references (a mismatch aborts, so a
pin cannot lock in a wrong answer) and record the workload's pinned
digests. Re-run after changing a workload's input size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def dumps(pins: dict) -> str:
    """pins.json text with one line per seed."""
    blocks = []
    for name in sorted(pins):
        seeds = pins[name]["seeds"]
        rows = ",\n".join(f'      "{s}": {json.dumps(seeds[s], sort_keys=True)}'
                          for s in sorted(seeds, key=int))
        blocks.append(f'  "{name}": {{\n    "pages": {pins[name]["pages"]},\n'
                      f'    "seeds": {{\n{rows}\n    }}\n  }}')
    return "{\n" + ",\n".join(blocks) + "\n}\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="inclusive range a-b")
    ap.add_argument("--workloads", default="pip_city,tile_z9")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sys.path[:0] = [run.ROOT]
    os.environ["SPARK_GRAFT_PRETOUCH"] = "0"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [run.ROOT, os.environ.get("PYTHONPATH")]))
    path = os.path.join(run.HERE, "pins.json")
    with open(path) as fh:
        pins = json.load(fh)
    # one scratch dir for every workload: the JVM keeps the local dirs
    # it was launched with
    work = os.path.join(run.WORK, f"pin-{os.getpid()}")
    for name in args.workloads.split(","):
        bench = run.Bench(argparse.Namespace(workload=name, seed=lo, seconds=0, trace=0))
        bench.work = work
        wl = bench.wl
        entry = pins.setdefault(name, {})
        if entry.get("pages") != wl.pages:
            entry.update(pages=wl.pages, seeds={})
        try:
            bench.scratch_env()
            bench.start_session(bench.cores)
            for seed in range(lo, hi + 1):
                bench.prepare(seed, os.path.join(bench.work, f"pages-{seed}"))
                wl.setup(bench.spark, bench.pages_path, bench.work)
                if wl.uses_index:
                    wl.build_index()
                out = wl.outputs(wl.run_pass())
                errs = wl.check(out, bench.refs)
                if errs:
                    run.log(f"{name} seed {seed}: output disagrees with the reference: {errs}")
                    return 1
                entry["seeds"][str(seed)] = {k: out[k] for k in wl.pinned}
                run.log(f"{name} seed {seed}: {entry['seeds'][str(seed)]}")
        finally:
            bench.stop_session()
        with open(path, "w") as fh:
            fh.write(dumps(pins))
    bench.stop_jvm()
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
