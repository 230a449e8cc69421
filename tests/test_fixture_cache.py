"""queries._fixture: the one build-once mechanism behind the registry
entries' index and store fixtures — private per-process roots, and a
key that includes the Spark session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F


def test_fixture_roots_are_private_and_session_keyed(spark, sf_dir):
    """A second process building the same fixtures on the same sf_dir
    gets its own root and leaves this process's index untouched (two
    processes rebuilding one shared root in place once crashed a run
    with FILE_NOT_EXIST), and a restarted session rebuilds its fixtures
    instead of serving frames bound to the stopped one."""
    from deployment_spark.queries import _ivf_index

    index, emb = _ivf_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def hits():
        return sorted(
            tuple(r)
            for r in index.search(queries, k=10, nprobe=4)
            .select("query_id", "vec_id")
            .collect()
        )

    before = hits()
    child = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "_fixture_child.py"), sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert child.returncode == 0, f"stdout:\n{child.stdout}\nstderr tail:\n{child.stderr[-2000:]}"
    out = json.loads(child.stdout.strip().splitlines()[-1])
    assert out["exact_equal_after_restart"]
    assert out["ivf_root"] != index.root
    assert _ivf_index(spark, sf_dir)[0].root == index.root
    assert hits() == before
