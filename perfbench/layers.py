"""The traced run: the workload's job once, the crawl sequence, then each
layer on its own, with a span around every call and Spark's event log on.

Every traced run reports the same metric set.  The workload's own job runs
on its full input, first.  The one-core kernel, `extract_pages` and the
crawl sequence run on the workload's own pages: the crawl cuts WARC drops
from them (later drops replay earlier content as url revisits, exact copies
and near copies) with a fingerprint-index compaction between batches.  The
batch-dedup and text-operator probes run on the curate workload's input for
the seed (generated here for an extract run too), so they see its planted
duplicate families.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from perfbench import box, checks, gen, trace
from perfbench.workloads import (CURATE_KW, build_and_warm, check_job,
                                 prepare, public_info, run_job, stop)

# A traced run must end within 180 s on a busy 4-core box, so the crawl
# drops and the batch-dedup and text-operator probes run on samples.
CRAWL_DOCS = 120   # pages cut into the crawl drops
CRAWL_DROPS = 2    # the fingerprint index is compacted between batches
KERNEL_DOCS = 150  # pages for the one-core kernel probes
PASSAGE = CURATE_KW["passage_dedup"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rate(n: int, seconds: float) -> float:
    return n / seconds if seconds > 0 else 0.0


def _kernel(pages: list[dict], tr: trace.Tracer) -> dict:
    """One core, in-process: median of three passes over the pages."""
    import pandas as pd
    from lightly_ocr_spark.functions.extract import extract_batch
    from lightly_ocr_spark.functions.pdf import PDF_MAGIC, extract_pdf_text

    html = [p["html"] for p in pages if not p["html"].startswith(PDF_MAGIC)]
    html = html[:KERNEL_DOCS]
    pdfs = [p["html"] for p in pages if p["html"].startswith(PDF_MAGIC)]
    ts_html, ts_pdf = [], []
    for _ in range(3):
        with tr.span("functions.extract") as s:
            extract_batch(pd.Series(html, dtype="object"))
        ts_html.append(s["end"] - s["start"])
        with tr.span("functions.pdf") as s:
            for p in pdfs:
                extract_pdf_text(p)
        ts_pdf.append(s["end"] - s["start"])
    t_html, t_pdf = statistics.median(ts_html), statistics.median(ts_pdf)
    return {
        "functions.extract.docs_per_core_s": _rate(len(html), t_html),
        "functions.extract.mb_per_core_s": _rate(
            sum(map(len, html)), t_html) / 2**20,
        "functions.pdf.docs_per_core_s": _rate(len(pdfs), t_pdf),
    }


def collapsed_share(pairs: list[tuple[str, str]],
                    families: list[list[str]]) -> float:
    """Share of `families` whose members all end in one connected component
    of the pair graph."""
    parent: dict[str, str] = {}

    def root(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        parent[root(a)] = root(b)
    if not families:
        return 0.0
    return sum(len({root(u) for u in fam}) == 1
               for fam in families) / len(families)


def _crawl(spark, tr, drops: list[str], work: str, truth: dict) -> tuple:
    from lightly_ocr_spark.jobs.compact_job import run_compact
    from lightly_ocr_spark.jobs.crawl_job import run_crawl_batch

    corpus, fp = os.path.join(work, "corpus"), os.path.join(work, "fp_index")
    near = os.path.join(work, "near_index")
    legs: dict[str, list[float]] = {}
    walls, compacts = [], []
    for k, drop in enumerate(drops):
        with tr.span("jobs.crawl_job") as s:
            m = run_crawl_batch(spark, drop, corpus, fp, batch_id=f"d{k}",
                                input_format="warc", near_index_path=near)
        walls.append(s["end"] - s["start"])
        for leg, v in m["legs"].items():
            legs.setdefault(leg, []).append(v)
        if k + 1 < len(drops):
            with tr.span("jobs.compact_job") as s:
                c = run_compact(spark, fp, fp, partition_by=["fp_prefix"])
            compacts.append((s["end"] - s["start"], c["bytes_in"]))
    problems = checks.check_crawl(corpus, truth)
    admitted = checks.admitted_urls(corpus)
    planted = [cp for src, cp in truth["near_copies"] if src in admitted]
    index_files = (len(glob.glob(os.path.join(fp, "**", "*.parquet"),
                                 recursive=True))
                   + len(glob.glob(os.path.join(near, "**", "*.parquet"),
                                   recursive=True)))
    out = {f"jobs.crawl.{leg}_s": statistics.median(v)
           for leg, v in legs.items()}
    out.update({
        "jobs.crawl.batch_p50_s": statistics.median(walls),
        "jobs.compact_job.s": statistics.median(c[0] for c in compacts),
        "jobs.compact_job.bytes_rewritten": statistics.median(
            c[1] for c in compacts),
        "operators.dedup.near_index_s": statistics.median(legs["near_dedup"]),
        "operators.dedup.index_append_s": statistics.median(
            a + b for a, b in zip(legs["near_index_append"],
                                  legs["fp_index_append"])),
        "operators.dedup.near_index_recall": (
            sum(cp not in admitted for cp in planted) / len(planted)
            if planted else 0.0),
        "operators.dedup.index_files": index_files,
        "operators.dedup.index_bytes": box.du_bytes(fp) + box.du_bytes(near),
    })
    calls = len(drops) + len(compacts)
    return out, calls, problems, fp


def _dedup(spark, tr, texts, last, fp_index,
           near_families: list[list[str]]) -> dict:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from lightly_ocr_spark.jobs.curate_job import NEAR_DUP_MIN_AGREEMENT
    from lightly_ocr_spark.operators.dedup import (
        MINHASH_BANDS, MINHASH_K, band_candidate_pairs,
        incremental_exact_dedup, minhash_signatures,
        passage_dedup_docs)

    out = {}
    with tr.span("operators.dedup.minhash") as s:
        sig = minhash_signatures(
            texts.select(F.col("url").alias("doc_id"), "text"),
            k=MINHASH_K, ngram=3).persist(StorageLevel.MEMORY_AND_DISK)
        sig.count()
    out["operators.dedup.minhash_s"] = s["end"] - s["start"]
    with tr.span("operators.dedup.candidates"):
        cand = band_candidate_pairs(sig, MINHASH_K, MINHASH_BANDS) \
            .localCheckpoint(eager=True)
        n_cand = cand.count()
        sa, sb = sig.alias("sa"), sig.alias("sb")
        agree = sum((F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("int")
                    for i in range(MINHASH_K))
        verified = (cand.join(sa, F.col("id_a") == F.col("sa.doc_id"))
                    .join(sb, F.col("id_b") == F.col("sb.doc_id"))
                    .filter(agree >= int(NEAR_DUP_MIN_AGREEMENT * MINHASH_K))
                    .select("id_a", "id_b").collect())
    sig.unpersist()
    out["operators.dedup.candidate_pairs"] = n_cand
    out["operators.dedup.verified_frac"] = (len(verified) / n_cand
                                            if n_cand else 0.0)
    out["operators.dedup.planted_recall"] = collapsed_share(
        [tuple(r) for r in verified], near_families)
    with tr.span("operators.dedup.passage") as s:
        _noop(passage_dedup_docs(texts.select("url", "text"), id_col="url",
                                 n=PASSAGE[0], min_docs=PASSAGE[1]))
    out["operators.dedup.passage_s"] = s["end"] - s["start"]
    with tr.span("operators.dedup.index_antijoin") as s:
        incremental_exact_dedup(spark, last, fp_index, id_col="url",
                                commit=False).count()
    out["operators.dedup.index_antijoin_s"] = s["end"] - s["start"]
    return out


def _text_ops(spark, tr, texts, nb: str, work: str) -> dict:
    from lightly_ocr_spark.operators.classify import nb_load, nb_predict
    from lightly_ocr_spark.operators.enrich import enrich_pages
    from lightly_ocr_spark.operators.pack import pack_chunks
    from lightly_ocr_spark.operators.textstats import chunk_docs

    n = texts.count()
    out = {}
    with tr.span("operators.enrich") as s:
        _noop(enrich_pages(texts))
    out["operators.enrich.docs_per_s"] = _rate(n, s["end"] - s["start"])
    wm, lm = nb_load(spark, nb)
    with tr.span("operators.classify.nb_predict") as s:
        _noop(nb_predict(texts.select("url", "text"), wm, lm, id_col="url"))
    out["operators.classify.nb_predict_s"] = s["end"] - s["start"]
    chunks = os.path.join(work, "chunks")
    with tr.span("operators.textstats.chunk") as s:
        window, stride = CURATE_KW["chunk"]
        chunk_docs(texts.select("url", "text"), id_col="url", window=window,
                   stride=stride).write.mode("overwrite").parquet(chunks)
    out["operators.textstats.chunk_s"] = s["end"] - s["start"]
    with tr.span("operators.pack") as s:
        _noop(pack_chunks(spark.read.parquet(chunks),
                          budget=CURATE_KW["pack_budget"], partitions=1))
    out["operators.pack.pack_s"] = s["end"] - s["start"]
    return out


def _jobs_at_build(spark, tr, texts, nb: str) -> int:
    """Spark jobs submitted while plans are only being built (no action):
    the curate passage stage over a post-shuffle frame, enrichment,
    chunking and NB scoring."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from lightly_ocr_spark.operators.classify import nb_load, nb_predict
    from lightly_ocr_spark.operators.dedup import passage_dedup_docs
    from lightly_ocr_spark.operators.enrich import enrich_pages
    from lightly_ocr_spark.operators.textstats import chunk_docs

    wm, lm = nb_load(spark, nb)
    with tr.span("plans.build") as s:
        w = Window.partitionBy("url").orderBy("text")
        one = (texts.withColumn("rn", F.row_number().over(w))
               .filter("rn = 1").drop("rn"))
        passage_dedup_docs(one, id_col="url", n=PASSAGE[0],
                           min_docs=PASSAGE[1])
        enrich_pages(one)
        chunk_docs(one, id_col="url")
        nb_predict(one, wm, lm, id_col="url")
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            f"span-{s['id']}")
    return len(jobs)


def _own_legs(workload: str, out: str, manifest: dict) -> dict:
    """The job's manifest legs; extract reports one wall time per slice."""
    if workload == "curate":
        return manifest["legs"]
    walls = []
    for p in glob.glob(os.path.join(out, "_manifests", "slice-*.json")):
        with open(p) as f:
            walls.append(json.load(f)["wall_s"])
    return {"slice_s": walls}


def _extract_layers(spark, tr, info: dict, pages: list[dict],
                    kernel: dict) -> dict:
    """`extract_pages` into a noop sink, against the one-core kernel rate
    times the slot count."""
    from lightly_ocr_spark.operators.extract_udf import extract_pages
    from lightly_ocr_spark.schemas import PAGES_SCHEMA

    with tr.span("operators.extract_udf") as s:
        _noop(extract_pages(spark.read.schema(PAGES_SCHEMA)
                            .parquet(info["pages"])))
    wall = s["end"] - s["start"]
    n_pdf = sum(p["html"].startswith(b"%PDF-") for p in pages)
    kernel_s = (len(pages) - n_pdf) / kernel["functions.extract.docs_per_core_s"]
    if n_pdf:
        kernel_s += n_pdf / kernel["functions.pdf.docs_per_core_s"]
    slots = box.spark_state(spark)["slots"]
    return {"operators.extract_udf.docs_per_s": _rate(len(pages), wall),
            "operators.extract_udf.kernel_share": kernel_s / (slots * wall),
            "spark.slots": slots}


def _texts(spark, tr, pages: str, truth: dict, last_drop: str, work: str):
    """Extracted texts, materialized: the curate input's, for every page of
    a planted duplicate family and half of the other urls, one row per url
    and per text as the curate job dedups them before its near-dedup; and
    the last crawl drop's."""
    from pyspark.sql import functions as F
    from lightly_ocr_spark.operators.extract_udf import extract_pages
    from lightly_ocr_spark.schemas import PAGES_SCHEMA
    from lightly_ocr_spark.sources.warc import warc_pages

    planted = sorted({u for fam in truth["near_families"]
                      + truth["exact_families"] for u in fam})
    sample = spark.read.schema(PAGES_SCHEMA).parquet(pages).filter(
        F.col("url").isin(planted) | (F.abs(F.hash("url")) % 2 == 0))
    texts, last = os.path.join(work, "texts"), os.path.join(work, "last")
    with tr.span("prep.texts"):
        extract_pages(sample, keep_empty=False).select("url", "text") \
            .dropDuplicates(["url"]).dropDuplicates(["text"]) \
            .write.parquet(texts)
        extract_pages(warc_pages(spark, last_drop), keep_empty=False) \
            .select("url", "text").write.parquet(last)
    return spark.read.parquet(texts), spark.read.parquet(last)


def traced(workload: str, seed: int, work: str, cores: int) -> dict:
    from lightly_ocr_spark.sources.warc import warc_pages

    info = prepare(workload, seed, work)
    cur = info if workload == "curate" else prepare("curate", seed, work)
    pages = gen.read_pages(info["pages"])
    crawl = gen.gen_crawl(os.path.join(work, "crawl"), seed,
                          pages[:CRAWL_DOCS], drops=CRAWL_DROPS)
    crawl_truth = checks.load_truth(crawl["dir"])
    drops = sorted(glob.glob(os.path.join(crawl["dir"], "drop-*")))
    logdir = os.path.join(work, "eventlog")
    os.makedirs(logdir)
    spark = build_and_warm(cores, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one file per run
        "spark.eventLog.dir": "file://" + logdir})
    tr = trace.Tracer(f"{workload}-{seed}-{int(time.time())}", spark)
    try:
        nb = cur["nb_model"]
        steal0, load0 = box.steal_ticks(), os.getloadavg()[0]
        with tr.span("run"):
            out = os.path.join(work, "out")
            with tr.span(f"jobs.{workload}") as own:
                m = run_job(spark, workload, info, out)
            problems = check_job(workload, info, out, m, seed)
            legs = _own_legs(workload, out, m)
            metrics, n_crawl, crawl_probs, fp_index = _crawl(
                spark, tr, drops, work, crawl_truth)
            metrics.update(_kernel(pages, tr))
            metrics.update(_extract_layers(spark, tr, info, pages, metrics))
            with tr.span("sources.warc") as s:
                n_warc = warc_pages(spark, drops[0]).count()
            metrics["sources.warc.docs_per_s"] = _rate(
                n_warc, s["end"] - s["start"])
            texts, last = _texts(spark, tr, cur["pages"], cur["truth"],
                                 drops[-1], work)
            metrics.update(_dedup(spark, tr, texts, last, fp_index,
                                  cur["truth"]["near_families"]))
            metrics.update(_text_ops(spark, tr, texts, nb, work))
            metrics["spark.jobs_at_build"] = _jobs_at_build(
                spark, tr, texts, nb)
        metrics["trace.job_docs_per_s"] = _rate(
            info["docs"], own["end"] - own["start"])
        state = box.run_state(spark, steal0, load0)
    finally:
        stop(spark)
    log = trace.read_event_log(glob.glob(os.path.join(logdir, "*"))[0])
    metrics.update(trace.spark_metrics(
        log, trace.jobs_of_span(log, tr.spans, own)))
    span_file = os.path.join(os.path.dirname(work), "results",
                             f"{workload}-s{seed}-spans.json")
    os.makedirs(os.path.dirname(span_file), exist_ok=True)
    tr.dump(span_file)
    return {"metrics": metrics, "attempted": 1 + n_crawl,
            "failed": bool(problems) + bool(crawl_probs),
            "detail": {"problems": [problems, crawl_probs],
                       "own_job_legs": legs, "span_file": span_file,
                       "box": state, "self_s": trace.self_times(tr.spans),
                       "input": public_info(info),
                       "curate_input": public_info(cur),
                       "crawl_input": public_info(crawl)}}
