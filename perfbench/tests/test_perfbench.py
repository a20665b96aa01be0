"""Self-tests for the benchmark: helpers, generator determinism, checks
that reject corrupted outputs, and a small smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, trace  # noqa: E402


def test_tail_percentile_leaves_ten_beyond():
    assert trace.tail_percentile(list(range(10))) is None
    t = trace.tail_percentile([float(x) for x in range(1, 21)])
    assert t == {"value": 10.0, "percentile": 50.0, "samples": 20}
    assert sum(x > t["value"] for x in range(1, 21)) == 10


def test_self_time_subtracts_children_union():
    spans = [
        {"id": 0, "parent": None, "name": "a", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "b", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "c", "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 2, "name": "d", "start": 3.5, "end": 4.5},
        {"id": 4, "parent": 0, "name": "b", "start": 8.0, "end": 12.0},
    ]
    st = trace.self_times(spans)
    assert st["a"] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st["b"] == pytest.approx(3.0 + 4.0)
    assert st["c"] == pytest.approx(2.0)
    assert st["d"] == pytest.approx(1.0)


def test_collapsed_share_needs_one_component_per_family():
    from perfbench.layers import collapsed_share

    fams = [["a", "b", "c"], ["d", "e"], ["f", "g"]]
    pairs = [("a", "b"), ("c", "b"), ("d", "x"), ("g", "f")]
    assert collapsed_share(pairs, fams) == pytest.approx(2 / 3)
    assert collapsed_share([], fams) == 0.0


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 1500, "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Submission Time": 2500, "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2],
         "Submission Time": 9500, "Properties": {}},
    ]
    for stage, runs in ((0, [100, 100, 400]), (1, [50]), (2, [1000])):
        for r in runs:
            events.append({
                "Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": r},
                "Task Metrics": {"Executor Run Time": r,
                                 "Executor CPU Time": r * 10**6,
                                 "JVM GC Time": 1,
                                 "Shuffle Write Metrics": {
                                     "Shuffle Bytes Written": 2**20}}})
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events))
    log = trace.read_event_log(str(p))
    spans = [{"id": 0, "parent": None, "start": 1.0, "end": 3.0},
             {"id": 1, "parent": 0, "start": 1.2, "end": 1.8}]
    jobs = trace.jobs_of_span(log, spans, spans[0])
    assert sorted(jobs) == [0, 1]
    m = trace.spark_metrics(log, jobs)
    assert m["spark.tasks"] == 4
    assert m["spark.task_s"] == pytest.approx(0.65)
    assert m["spark.task_skew"] == pytest.approx(4.0)
    assert m["spark.shuffle_write_mb"] == pytest.approx(4.0)


@pytest.mark.parametrize("make,n", [(gen.gen_extract, 40),
                                    (gen.gen_curate, 120)])
def test_same_seed_same_digest(tmp_path, make, n):
    a = make(str(tmp_path / "a"), 7, n)
    b = make(str(tmp_path / "b"), 7, n)
    c = make(str(tmp_path / "c"), 8, n)
    assert a["digest"] == b["digest"] != c["digest"]
    pages = gen.read_pages(os.path.join(a["dir"], "pages"))
    d1 = gen.gen_crawl(str(tmp_path / "d1"), 7, pages, drops=2)
    d2 = gen.gen_crawl(str(tmp_path / "d2"), 7, pages, drops=2)
    assert d1["digest"] == d2["digest"]


def _rewrite(path: str, fn) -> None:
    t = pq.read_table(path).to_pylist()
    pq.write_table(pa.Table.from_pylist(fn(t)), path)


def _fake_extract(tmp_path, make):
    """A correct extract output, made with the oracle."""
    from lightly_ocr_spark.oracle import oracle_extract

    info = make(str(tmp_path / "in"), 3, 120, files=2)
    truth = checks.load_truth(info["dir"])
    pages = os.path.join(info["dir"], "pages")
    out = tmp_path / "out"
    os.makedirs(out / "slice=0")
    rows = [{"url": p["url"], "warc_ts": p["warc_ts"],
             "text": truth["pdf_text"].get(
                 p["url"], oracle_extract(p["html"])["text"])}
            for p in pq.read_table(pages).to_pylist()]
    pq.write_table(pa.Table.from_pylist(rows), str(out / "slice=0" / "p.parquet"))
    return pages, str(out), truth


# curate pages carry url revisits: one url, two fetches, two texts
@pytest.mark.parametrize("make", [gen.gen_extract, gen.gen_curate])
def test_extract_check_rejects_corruption(tmp_path, make):
    pages, out, truth = _fake_extract(tmp_path, make)
    assert checks.check_extract(pages, out, truth, seed=1, sample=120) == []
    part = glob.glob(os.path.join(out, "slice=0", "*.parquet"))[0]
    _rewrite(part, lambda rows: rows[:1] + [
        {**rows[1], "text": rows[1]["text"] + "x"}] + rows[2:])
    assert checks.check_extract(pages, out, truth, seed=1, sample=120)
    _rewrite(part, lambda rows: rows + rows[:1])
    assert checks.check_extract(pages, out, truth, seed=1, sample=120)


def _fake_curate(tmp_path):
    truth = {"exact_families": [["u1", "u2"]]}
    out = tmp_path / "cur"
    for d in ("data", "chunks", "packs"):
        os.makedirs(out / d)
    pq.write_table(pa.Table.from_pylist([
        {"url": "u1", "extract_sha256": "a", "n_tokens": 12},
        {"url": "u3", "extract_sha256": "b", "n_tokens": 40}]),
        str(out / "data" / "p.parquet"))
    pq.write_table(pa.Table.from_pylist([{"url": "u1"}, {"url": "u3"}]),
                   str(out / "chunks" / "p.parquet"))
    pq.write_table(pa.Table.from_pylist([{"pack_id": "p0"}, {"pack_id": "p0"}]),
                   str(out / "packs" / "p.parquet"))
    manifest = {"after_near_dedup_and_quality": 2, "n_chunks": 2, "n_packs": 1}
    return str(out), truth, manifest


@pytest.mark.parametrize("corrupt", [
    lambda r: r + [{**r[0], "url": "u2"}],           # second family survivor
    lambda r: r + [{**r[1], "url": "u4"}],           # duplicate content hash
    lambda r: [{**r[0], "n_tokens": 3}, r[1]],        # under the token floor
    lambda r: r[1:],                                  # family lost, count off
])
def test_curate_check_rejects_corruption(tmp_path, corrupt):
    out, truth, manifest = _fake_curate(tmp_path)
    assert checks.check_curate(out, truth, manifest) == []
    _rewrite(os.path.join(out, "data", "p.parquet"), corrupt)
    assert checks.check_curate(out, truth, manifest)


def test_crawl_check_rejects_corruption(tmp_path):
    truth = {"exact_copies": ["u1?copy=1"]}
    d = tmp_path / "corpus" / "batch=d0"
    os.makedirs(d)
    good = [{"url": "u1", "fp": "f1"}, {"url": "u2", "fp": "f2"}]
    pq.write_table(pa.Table.from_pylist(good), str(d / "p.parquet"))
    corpus = str(tmp_path / "corpus")
    assert checks.check_crawl(corpus, truth) == []
    for bad in ([{"url": "u1", "fp": "f1"}], [{"url": "u1?copy=1", "fp": "f4"}]):
        d2 = tmp_path / "corpus" / "batch=d1"
        shutil.rmtree(d2, ignore_errors=True)
        os.makedirs(d2)
        pq.write_table(pa.Table.from_pylist(bad), str(d2 / "p.parquet"))
        assert checks.check_crawl(corpus, truth)


def test_benchmark_json_names_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import DOCS

    assert sorted(w["name"] for w in spec["workloads"]) == sorted(DOCS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["extract", "curate"])
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_run(workload, traced):
    """A short run of each workload, untraced and traced, passes its checks
    and prints exactly the metrics BENCHMARK.json names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = spec["per_layer" if traced else "end_to_end"]
    assert sorted(res["metrics"]) == sorted(m["name"] for m in want)
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
