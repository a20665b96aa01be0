"""The pieces the extract, curate and crawl jobs share: the page reader's
format table, the url-revisit keeper and the atomic manifest writer."""

import datetime as dt
import os

import pytest

pytestmark = pytest.mark.spark


def _run_extract(spark, pages, out):
    from lightly_ocr_spark.jobs.extract_job import run_extract

    return run_extract(spark, pages, out, input_format="wac")


def _run_curate(spark, pages, out):
    from lightly_ocr_spark.jobs.curate_job import run_curate

    return run_curate(spark, pages, out, input_format="wac")


def _run_crawl(spark, pages, out):
    from lightly_ocr_spark.jobs.crawl_job import run_crawl_batch

    return run_crawl_batch(spark, pages, out, os.path.join(out, "index"),
                           input_format="wac")


@pytest.mark.parametrize("run", [_run_extract, _run_curate, _run_crawl],
                         ids=["extract", "curate", "crawl"])
def test_unknown_input_format_names_allowed_formats(spark, pages_dir,
                                                    tmp_path, run):
    with pytest.raises(ValueError, match="pages, warc, jsonl"):
        run(spark, pages_dir, str(tmp_path / "out"))


def test_latest_per_url_keeper_rules(spark):
    from lightly_ocr_spark.jobs import latest_per_url

    t1, t2 = dt.datetime(2020, 1, 1), dt.datetime(2021, 1, 1)
    rows = [
        ("newest", t1, "a"), ("newest", t2, "b"),     # newest warc_ts wins
        ("dated", None, "a"), ("dated", t1, "b"),     # null ts loses
        ("tie", t1, "b"), ("tie", t1, "a"),           # smaller sha wins
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, extract_sha256 string"
    )
    kept = {r["url"]: r["extract_sha256"]
            for r in latest_per_url(df).collect()}
    assert kept == {"newest": "b", "dated": "b", "tie": "a"}


class _TornJson:
    """`json` stand-in whose dump writes half a document, then fails."""

    @staticmethod
    def dump(payload, f, **kw):
        f.write('{"legs": ')
        raise OSError("disk full")


def test_failing_dump_leaves_no_curate_manifest(spark, tmp_path,
                                               monkeypatch):
    import lightly_ocr_spark.jobs as jobs
    from lightly_ocr_spark.jobs.curate_job import run_curate
    from lightly_ocr_spark.sources.synthetic import write_pages_parquet

    pages = str(tmp_path / "pages")
    write_pages_parquet(pages, n=60, files=1)
    out = str(tmp_path / "curated")
    monkeypatch.setattr(jobs, "json", _TornJson)
    with pytest.raises(OSError, match="disk full"):
        run_curate(spark, pages, out)
    assert not os.path.exists(os.path.join(out, "manifest.json"))


def test_failing_dump_leaves_no_compaction_manifest(spark, tmp_path,
                                                    monkeypatch):
    import lightly_ocr_spark.jobs as jobs
    from lightly_ocr_spark.jobs.compact_job import run_compact

    src, out = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.range(100).write.parquet(src)
    monkeypatch.setattr(jobs, "json", _TornJson)
    with pytest.raises(OSError, match="disk full"):
        run_compact(spark, src, out)
    assert not os.path.exists(os.path.join(out, "_compaction.json"))
