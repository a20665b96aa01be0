"""The workloads: their inputs, job calls and checks, shared by the
untraced and the traced run."""

from __future__ import annotations

import os

from perfbench import checks, gen

# Curate's size is the largest the time budget allows; most of a curate
# call is still fixed cost per call (perfbench/README.md).
DOCS = {"extract": 600, "curate": 4000}
# Whether a run makes one untimed warm-up call before its timed calls.
# Extract's first call pays first-use and JIT costs as large as the call
# itself.  A first curate call costs 30-65 s, and the benchmark's time
# budget (22 runs per workload within 3420 s) allows one curate call per
# run: it is timed cold, as a CLI user pays it per corpus build.
WARMUP = {"extract": True, "curate": False}
# The round-6 curation command with every gate on, host cap from the input.
CURATE_KW = dict(max_rep=0.2, passage_dedup=(8, 4), pii=True,
                 min_fluency=-7.5, chunk=(512, 384), pack_budget=2048,
                 shuffle_seed=7)


def build_and_warm(cores: int, extra_conf: dict | None = None):
    """Set-up as a user pays it: the program's session built the way the
    job CLIs build it, then a first tiny Python action so the workers are
    warm."""
    from lightly_ocr_spark.plans.session import build_session

    spark = build_session("perfbench", cores=cores, python_heavy=True,
                          extra_conf=extra_conf)
    slots = cores // int(spark.conf.get("spark.task.cpus"))
    spark.range(slots, numPartitions=slots).mapInPandas(
        lambda it: it, "id long").count()
    return spark


def stop(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM (and with it
    the Python workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def prepare(workload: str, seed: int, work: str) -> dict:
    make = gen.gen_extract if workload == "extract" else gen.gen_curate
    info = make(os.path.join(work, f"input-{workload}"), seed,
                DOCS[workload])
    info["truth"] = checks.load_truth(info["dir"])
    info["pages"] = os.path.join(info["dir"], "pages")
    info["nb_model"] = os.path.join(info["dir"], "nb_model")
    return info


def run_job(spark, workload: str, info: dict, out: str):
    """One call of the workload's job, as its CLI makes it."""
    if workload == "extract":
        from lightly_ocr_spark.jobs.extract_job import run_extract

        return run_extract(spark, info["pages"], out)
    from lightly_ocr_spark.jobs.curate_job import run_curate

    return run_curate(spark, info["pages"], out,
                      host_cap=info["truth"]["host_cap"],
                      nb_model_path=info["nb_model"], **CURATE_KW)


def check_job(workload: str, info: dict, out: str, manifest: dict,
              seed: int) -> list[str]:
    if workload == "extract":
        return checks.check_extract(info["pages"], out, info["truth"], seed)
    return checks.check_curate(out, info["truth"], manifest)


def public_info(info: dict) -> dict:
    """A generator's summary without the local paths and the truth."""
    return {k: v for k, v in info.items()
            if k not in ("truth", "dir", "pages", "nb_model")}
