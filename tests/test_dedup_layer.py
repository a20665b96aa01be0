"""The MinHash dedup layer curate and crawl share: the near-dup clusterer
and the local-filesystem-only swap recovery in front of every index (and
the same local-path guard on the extract, curate and crawl outputs)."""

import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def _url_sigs(spark, rows):
    from lightly_ocr_spark.operators.dedup import (
        NEAR_DUP_NGRAM,
        minhash_signatures,
    )

    pages = spark.createDataFrame(rows, "url string, text string")
    return minhash_signatures(
        pages.select(F.col("url").alias("doc_id"), "text"),
        ngram=NEAR_DUP_NGRAM,
    )


def _mutate(words, lo, hi, tag):
    return words[:lo] + [f"{tag}{j}" for j in range(lo, hi)] + words[hi:]


def test_mutation_chain_drops_all_but_smallest_url(spark):
    """A mutation chain A~C~B: C is A with one region changed, B is C with
    another, and A and B are too far apart to verify directly.  Components
    put all three in one cluster, so only A survives; dropping the larger
    url of each verified pair would also keep B, whose only near-dup C
    sorts after it."""
    from lightly_ocr_spark.operators.dedup import (
        MINHASH_K,
        NEAR_DUP_MIN_AGREEMENT,
        near_dup_drops,
    )

    a = [f"word{j}" for j in range(60)]
    c = _mutate(a, 5, 13, "cx")
    b = _mutate(c, 40, 48, "bx")
    ua, ub, uc = ("https://a.example/1", "https://b.example/1",
                  "https://c.example/1")
    sig = _url_sigs(spark, [(ua, " ".join(a)), (ub, " ".join(b)),
                            (uc, " ".join(c))])
    mh = {r["doc_id"]: [r[f"mh{i}"] for i in range(MINHASH_K)]
          for r in sig.collect()}
    need = int(NEAR_DUP_MIN_AGREEMENT * MINHASH_K)

    def agree(x, y):
        return sum(p == q for p, q in zip(mh[x], mh[y]))

    assert agree(ua, uc) >= need and agree(uc, ub) >= need
    assert agree(ua, ub) < need  # B reaches A only through C
    drops = {r["doc_id"] for r in near_dup_drops(sig).collect()}
    assert drops == {ub, uc}


def test_max_bucket_leaves_mega_bucket_family_unclustered(spark):
    """Forty byte-identical pages fill every band bucket past the cap, so
    with `max_bucket` none of them is clustered (all survive); without
    the cap all but the smallest url drop."""
    from lightly_ocr_spark.operators.dedup import near_dup_drops

    mega = "identical boilerplate page body repeated verbatim " * 5
    family = [f"https://hot.example/{i:02d}" for i in range(40)]
    sig = _url_sigs(spark, [(u, mega) for u in family])

    capped = {r["doc_id"] for r in near_dup_drops(sig, max_bucket=20)
              .collect()}
    uncapped = {r["doc_id"] for r in near_dup_drops(sig).collect()}
    assert capped == set()
    assert uncapped == set(family[1:])


def _recover(spark, path, tmp_path):
    from lightly_ocr_spark.jobs.compact_job import recover_interrupted_swap

    recover_interrupted_swap(path)


def _compact(spark, path, tmp_path):
    from lightly_ocr_spark.jobs.compact_job import run_compact

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    run_compact(spark, src, path)


def _exact_dedup(spark, path, tmp_path):
    from lightly_ocr_spark.operators.dedup import incremental_exact_dedup

    batch = spark.createDataFrame([(1, "some text")],
                                  "doc_id long, text string")
    incremental_exact_dedup(spark, batch, path, commit=False)


def _extract(spark, path, tmp_path):
    from lightly_ocr_spark.jobs.extract_job import run_extract

    run_extract(spark, str(tmp_path / "pages"), path)


def _curate(spark, path, tmp_path):
    from lightly_ocr_spark.jobs.curate_job import run_curate

    run_curate(spark, str(tmp_path / "pages"), path)


def _crawl(spark, path, tmp_path):
    from lightly_ocr_spark.jobs.crawl_job import process_pages_batch

    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary")
    process_pages_batch(spark, pages, path, str(tmp_path / "fp"), "b0")


def _extract_stream(spark, path, tmp_path):
    from lightly_ocr_spark.streaming.extract_stream import extract_stream_job

    extract_stream_job(spark, str(tmp_path / "pages"), path,
                       str(tmp_path / "cp"))


def _read_extracted(spark, path, tmp_path):
    from lightly_ocr_spark.jobs.extract_job import read_extracted

    read_extracted(spark, path)


@pytest.mark.parametrize(
    "call",
    [_recover, _compact, _exact_dedup, _extract, _curate, _crawl,
     _extract_stream, _read_extracted],
    ids=["recover", "compact", "exact_dedup", "extract", "curate", "crawl",
         "extract_stream", "read_extracted"])
@pytest.mark.parametrize("scheme", ["s3a://bucket", "file:"])
def test_swap_recovery_rejects_uris(spark, tmp_path, monkeypatch, call,
                                    scheme):
    """`os.path` cannot see a `.replaced` backup or a manifest behind a
    URI, so swap recovery and the job entry points raise instead of
    skipping recovery or committing into a cwd-relative `file:`/`s3a:`
    directory while Spark writes the data at the URI."""
    monkeypatch.chdir(tmp_path)
    path = f"{scheme}{tmp_path}/index"
    with pytest.raises(ValueError, match="local filesystem"):
        call(spark, path, tmp_path)
    assert not [p for p in os.listdir(tmp_path)
                if p.startswith(("file:", "s3a:"))]
