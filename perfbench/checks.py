"""Per-call correctness checks.  Each returns a list of problems; an empty
list is a pass.  Outputs are read with pyarrow, not Spark, so a check never
shares a code path with the job it checks."""

from __future__ import annotations

import glob
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq


def _read(paths: list[str], columns: list[str]) -> dict[str, list]:
    """Columns as Python lists; timestamps as integer microseconds."""
    out: dict[str, list] = {c: [] for c in columns}
    for p in paths:
        t = pq.read_table(p, columns=columns)
        for c in columns:
            col = t.column(c)
            if pa.types.is_timestamp(col.type):
                col = col.cast(pa.timestamp("us")).cast(pa.int64())
            out[c] += col.to_pylist()
    return out


def _files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def _dups(values: list) -> int:
    return len(values) - len(set(values))


def check_extract(pages_dir: str, out_dir: str, truth: dict, seed: int,
                  sample: int = 24) -> list[str]:
    """One output row per input row (url, fetch time), and a seeded sample
    of HTML texts byte-identical to the independent oracle (PDF texts to the
    generator's words)."""
    from lightly_ocr_spark.oracle import oracle_extract

    pages = _read(_files(pages_dir), ["url", "warc_ts", "html"])
    out = _read(glob.glob(os.path.join(out_dir, "slice=*", "*.parquet")),
                ["url", "warc_ts", "text"])
    want_keys = list(zip(pages["url"], pages["warc_ts"]))
    got_keys = list(zip(out["url"], out["warc_ts"]))
    problems = []
    if sorted(got_keys) != sorted(want_keys):
        problems.append(f"{len(got_keys)} rows out for {len(want_keys)} in, "
                        "or not the input rows once each")
    got = dict(zip(got_keys, out["text"]))
    html = dict(zip(want_keys, pages["html"]))
    rng = random.Random(seed)
    for key in rng.sample(sorted(html), min(sample, len(html))):
        want = truth["pdf_text"].get(key[0])
        if want is None:
            want = oracle_extract(html[key])["text"]
        if got.get(key) != want:
            problems.append(f"text differs from the oracle for {key[0]}")
    return problems


def check_curate(out_dir: str, truth: dict, manifest: dict) -> list[str]:
    """Unique urls and content hashes, the token floor, one survivor per
    planted exact family, and manifest counts equal to the row counts."""
    data = _read(_files(os.path.join(out_dir, "data")),
                 ["url", "extract_sha256", "n_tokens"])
    problems = []
    if _dups(data["url"]):
        problems.append("duplicate urls in data/")
    if _dups(data["extract_sha256"]):
        problems.append("duplicate extract_sha256 in data/")
    if any(n is None or n < 10 for n in data["n_tokens"]):
        problems.append("a row has n_tokens < 10")
    kept = set(data["url"])
    for fam in truth["exact_families"]:
        n = sum(u in kept for u in fam)
        if n != 1:
            problems.append(f"exact family {fam[0]} kept {n} survivors")
    if manifest["after_near_dedup_and_quality"] != len(data["url"]):
        problems.append("manifest output count != data/ rows")
    chunks = _read(_files(os.path.join(out_dir, "chunks")), ["url"])
    if manifest.get("n_chunks") != len(chunks["url"]):
        problems.append("manifest n_chunks != chunks/ rows")
    packs = _read(_files(os.path.join(out_dir, "packs")), ["pack_id"])
    if manifest.get("n_packs") != len(set(packs["pack_id"])):
        problems.append("manifest n_packs != distinct packs/ pack_id")
    return problems


def check_crawl(corpus_dir: str, truth: dict) -> list[str]:
    """No fingerprint admitted twice across batches (a replayed revisit
    carries its original bytes), and no replayed exact copy admitted at
    all.  A url may repeat: a revisit with new content is new content."""
    rows = _read(_files(corpus_dir), ["url", "fp"])
    problems = []
    if _dups(rows["fp"]):
        problems.append("a fingerprint was admitted twice")
    admitted = set(rows["url"]) & set(truth["exact_copies"])
    if admitted:
        problems.append(f"{len(admitted)} replayed exact copies admitted")
    return problems


def admitted_urls(corpus_dir: str) -> set[str]:
    return set(_read(_files(corpus_dir), ["url"])["url"])


def load_truth(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "truth.json")) as f:
        return json.load(f)
