"""Driver-contract safety: every config-sensitive query must work on a
VANILLA SparkSession (the driver builds its own session with none of our
tuning). Runs in a subprocess because a JVM/session already exists in the
test process.

This test exists because of a real regression: `conf.get(key, default)`
VALIDATES the default in Spark 4, so an innocent `conf.get(tz, "")`
guard broke every query on plain sessions while passing the whole local
suite (whose fixture session pre-sets the conf).
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").appName("vanilla").getOrCreate()
import __spark_entry__ as m
qs = m.queries()
sf = "/root/testdata/sf0.001"
names = ["events_hourly", "media_metadata_stats", "pricing_summary",
         "asof_last_purchase", "streaming_10min_counts",
         "streaming_click_attribution", "corpus_keep_list",
         "media_byte_histogram", "embedding_lsh_dups",
         # r04 config-sensitive paths: stream-schema sniff + chained
         # stateful dedup, silver-layer build/read, ts grid arithmetic
         "streaming_dedup_10min_counts", "dedup_survivors_by_quality",
         "events_gapfill_zero",
         # PageRank's driver rounds: Arrow collect and return, Arrow off
         "pagerank_coparts"]
for name in names:
    n = qs[name](spark, sf).count()
    assert n > 0, name
assert m.entry(spark).count() > 0
print("VANILLA_OK")
"""


def test_queries_on_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert "VANILLA_OK" in proc.stdout, (
        f"vanilla-session run failed\nstdout: {proc.stdout[-2000:]}\n"
        f"stderr: {proc.stderr[-2000:]}"
    )
