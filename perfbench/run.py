"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is the separate traced run that produces the
per-layer metrics and a span file.  See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import box  # noqa: E402
from perfbench.trace import tail_percentile  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    DOCS, WARMUP, build_and_warm, check_job, prepare, public_info, run_job,
    stop)

# One driver heap for every run and both sides of every comparison: the
# program's 48g default does not fit a 15 GB box.
DRIVER_MEM = "2g"


def untraced(workload: str, seed: int, seconds: float, work: str,
             cores: int) -> dict:
    # set-up as a user pays it: this fresh process's imports plus building
    # the session, without the input generation in between
    imports = time.perf_counter() - T_START
    info = prepare(workload, seed, work)
    t = time.perf_counter()
    phases = {"inputs_s": t - T_START - imports}
    spark = build_and_warm(cores)
    setup = imports + time.perf_counter() - t
    try:
        first = None
        if WARMUP[workload]:
            t = time.perf_counter()
            run_job(spark, workload, info, os.path.join(work, "warmup"))
            first = time.perf_counter() - t
        calls, failed, store = [], 0, None
        steal0, load0 = box.steal_ticks(), os.getloadavg()[0]
        with box.RssSampler() as rss:
            while not calls or sum(c["wall_s"] for c in calls) < seconds:
                out = os.path.join(work, f"out-{len(calls)}")
                m, probs = None, ["job raised"]
                rss.active.set()
                t = time.perf_counter()
                try:
                    m = run_job(spark, workload, info, out)
                except Exception:  # a failed call is counted, not fatal
                    traceback.print_exc(file=sys.stderr)
                finally:
                    wall = time.perf_counter() - t
                    rss.active.clear()
                if m is not None:
                    probs = check_job(workload, info, out, m, seed)
                failed += bool(probs)
                calls.append({"wall_s": wall, "problems": probs,
                              "legs": m and m.get("legs")})
                if store is None and not probs:
                    store = box.du_bytes(out)
                shutil.rmtree(out, ignore_errors=True)
        state = box.run_state(spark, steal0, load0)
    finally:
        t = time.perf_counter()
        stop(spark)
        phases["stop_s"] = time.perf_counter() - t
    walls = [c["wall_s"] for c in calls]
    docs = info["docs"]
    metrics = {
        "setup_s": setup,
        "docs_per_s": docs / statistics.median(walls),
        "store_bytes_per_doc": (store or 0) / docs,
        "worker_rss_mb": rss.worker_peak / 2**20,
    }
    return {"metrics": metrics, "attempted": len(calls), "failed": failed,
            "detail": {"calls": calls, "box": state,
                       "first_call_s": first or calls[0]["wall_s"],
                       "call_tail_s": tail_percentile(walls),
                       "peak_rss_mb": rss.peak / 2**20, "phases": phases,
                       "input": public_info(info)}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import lightly_ocr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}",
              file=sys.stderr)
        return 2
    cores = box.nproc()
    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    try:
        if args.trace:
            from perfbench.layers import traced

            res = traced(args.workload, args.seed, work, cores)
        else:
            res = untraced(args.workload, args.seed, args.seconds, work,
                           cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["detail"].update(workload=args.workload, seed=args.seed,
                         trace=args.trace, driver_memory=DRIVER_MEM)
    os.makedirs(os.path.join(scratch, "results"), exist_ok=True)
    with open(os.path.join(scratch, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(res, f, indent=1, default=str)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    missing = {m["name"] for m in spec} ^ set(res["metrics"])
    if missing:
        print(f"perfbench: metrics differ from BENCHMARK.json: {missing}",
              file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": float(res["metrics"][m["name"]]),
                                "unit": m["unit"]} for m in spec}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
