"""Subprocess body for test_fixture_cache.test_fixture_roots_are_private_and_session_keyed
— a second OS process with its own Spark JVM building the same registry
fixtures on the same sf_dir, then restarting its session. Not a pytest
module (underscore prefix: not collected).

Usage: python _fixture_child.py <sf_dir>
Prints one JSON line {"ivf_root": str, "exact_equal_after_restart": bool}.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    sf_dir = sys.argv[1]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from deployment_spark import get_spark
    from deployment_spark.queries import _exact_norm_topk10, _ivf_index

    def session():
        s = get_spark(app_name="fixture-child", cpus=2, shuffle_partitions=2)
        s.sparkContext.setLogLevel("ERROR")
        return s

    spark = session()
    index, _ = _ivf_index(spark, sf_dir)
    before = sorted(tuple(r) for r in _exact_norm_topk10(spark, sf_dir).collect())
    spark.stop()
    spark = session()
    after = sorted(tuple(r) for r in _exact_norm_topk10(spark, sf_dir).collect())
    print(json.dumps({"ivf_root": index.root, "exact_equal_after_restart": before == after}))
    spark.stop()


if __name__ == "__main__":
    main()
