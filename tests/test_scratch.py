"""Every staged file lives under the application's scratch root
(``session.scratch_root``): Spark's per-application driver temp dir,
which Spark deletes when the context stops or the JVM exits."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_staged_files_stay_under_scratch_root(spark, sf_dir, tmp_path, monkeypatch):
    """With the process temp dir pointed at an empty directory, the
    staging operators and the bridge write nothing there: their files
    go under the scratch root."""
    from pandas_redshift_spark.operators.registry import all_queries
    from pandas_redshift_spark.session import scratch_root
    from pandas_redshift_spark.sources.bridge import connect

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    queries = all_queries()
    for name in (
        "streaming_tumbling_counts",
        "streaming_foreachbatch_upsert",
        "source_csv_roundtrip",
        "source_jdbc_roundtrip",
    ):
        assert queries[name].fn(spark, sf_dir).count() > 0, name
    staged = connect(spark).stage_csv(pd.DataFrame({"k": [1, 2]}), "scratch_probe")

    assert os.listdir(tmp_path) == []
    root = scratch_root(spark)
    assert staged.startswith(root + os.sep), staged
    target = os.path.abspath(f"{sf_dir}/events.parquet")
    links = [
        p
        for p in glob.glob(os.path.join(root, "*", "events.parquet"))
        if os.path.islink(p) and os.readlink(p) == target
    ]
    assert len(links) == 1, links
    # the drains deleted their checkpoints, and the upsert stages no
    # snapshot directory of its own
    left = [
        d
        for d in os.listdir(root)
        if d == "fb_upsert" or (d.startswith("stream_") and d.endswith("_ckpt"))
    ]
    assert left == [], left


_CHILD = """
import os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "1"
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
from pandas_redshift_spark.operators.streaming_exec import streaming_tumbling_counts
from pandas_redshift_spark.session import build_session, scratch_root

spark = build_session("scratch-child")
assert streaming_tumbling_counts(spark, {sf_dir!r}).count() > 0
print("ROOT", scratch_root(spark))
"""


def test_two_applications_on_one_sf_dir_get_separate_roots(spark, sf_dir, tmp_path):
    """A second process streaming from the same sf_dir stages under its
    own root, and that root is gone once the process exits, without a
    ``stop()``."""
    from pandas_redshift_spark.operators.streaming_exec import streaming_tumbling_counts
    from pandas_redshift_spark.session import scratch_root

    assert streaming_tumbling_counts(spark, sf_dir).count() > 0
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO, sf_dir=sf_dir)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    child_root = next(
        line.split(" ", 1)[1] for line in out.stdout.splitlines() if line.startswith("ROOT ")
    )
    assert child_root != scratch_root(spark)
    # the child's JVM deletes the dir in its shutdown hook, which runs
    # once it sees the Python side exit
    deadline = time.monotonic() + 60
    while os.path.exists(child_root) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not os.path.exists(child_root), os.listdir(child_root)
    assert os.path.isdir(scratch_root(spark))
