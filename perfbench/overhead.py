"""Tracing overhead from saved run records.

    python3 perfbench/overhead.py

For each workload, compares the job call made under tracing (the traced
run's own job call, `trace.job_docs_per_s`) with the untraced runs' first
job call: both are the first call after set-up, so both are cold.  Reads
`.perfbench/results/`; prints one JSON object.
"""

import glob
import json
import os
import statistics


def main() -> None:
    res = os.path.join(os.getcwd(), ".perfbench", "results")
    out = {}
    for workload in ("extract", "curate"):
        plain, traced = [], []
        for p in glob.glob(os.path.join(res, f"{workload}-s*-t*.json")):
            with open(p) as f:
                d = json.load(f)
            if d["detail"]["trace"]:
                traced.append(d["metrics"]["trace.job_docs_per_s"])
            else:
                plain.append(d["detail"]["input"]["docs"]
                             / d["detail"]["first_call_s"])
        if plain and traced:
            a, b = statistics.median(plain), statistics.median(traced)
            out[workload] = {"untraced_first_call_docs_per_s": a,
                             "traced_call_docs_per_s": b,
                             "overhead_frac": a / b - 1,
                             "untraced_runs": len(plain),
                             "traced_runs": len(traced)}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
