"""Batch jobs (spark-submit entry points), and the pieces every job shares:
the url-revisit keeper, the token gate, the leg timer, the local-path
guard and the atomic manifest writer."""

from __future__ import annotations

import json
import os
import time
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# quality gate: a kept document has at least this many whitespace tokens
MIN_TOKENS = 10


def latest_per_url(df: DataFrame) -> DataFrame:
    """One row per url.  A crawl legally re-fetches a url (WARC revisit
    records), and downstream stages assume url is a key; the keeper is
    the newest fetch (null `warc_ts` last), with the smaller
    `extract_sha256` as the deterministic tiebreak."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), "extract_sha256"
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def n_tokens() -> F.Column:
    """Whitespace token count of the `text` column; empty tokens (so an
    empty text) count 0."""
    return F.size(F.filter(
        F.split(F.trim("text"), r"\s+"), lambda x: F.length(x) > 0
    ))


def lap(legs: dict[str, float], name: str, since: float) -> float:
    """Record `legs[name]` as the seconds since `since` and return now,
    the start of the next leg."""
    now = time.time()
    legs[name] = round(now - since, 3)
    return now


def require_local_path(path: str) -> None:
    """Raise `ValueError` if `path` has a URI scheme (`s3a://...`,
    `file:/...`).  Commit points, manifests and swap backups are handled
    with `os.path`, which would treat such a path as a cwd-relative
    directory while Spark writes the data at the URI."""
    if urlparse(path).scheme:
        raise ValueError(
            f"{path!r}: works on local filesystem paths only; pass a "
            "plain local path, not a URI"
        )


def write_json_atomic(path: str, payload: dict) -> None:
    """Write `payload` as JSON to `path` via a tmp file and `os.replace`:
    a crash mid-dump leaves the previous file (or none), never torn
    JSON.  A job's manifest is its commit point, so readers that test for
    the file must only ever see a complete one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1)
    os.replace(tmp, path)
