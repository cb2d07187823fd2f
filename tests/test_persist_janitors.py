"""The persist janitor (``ecc_spark.session``) across a session restart:
a frame persisted under a SparkSession that has since been stopped must
be dropped by the next operator call, not unpersisted through the dead
context (which fails in the JVM). Also pins the single-in-flight
contract across operator families. Runs in a subprocess because it
stops its own session."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
from ecc_spark import matches, session
from ecc_spark.fixtures import corpus_dataframes
from ecc_spark.ops import dedup
from ecc_spark.session import get_spark


def phase1(spark):
    documents, seeds_df, *_ = corpus_dataframes(spark, n_docs=20, n_seeds=8, seed=42)
    _, m, _ = matches.build_matches(documents, seeds_df)
    return m.count()


spark = get_spark("janitor_restart", cpus=2, shuffle_partitions=4)
n_before = phase1(spark)
frame = spark.range(100).persist()
frame.count()
session.keep_persisted(frame)
spark.stop()

spark = get_spark("janitor_restart", cpus=2, shuffle_partitions=4)
# the janitor now holds only frames of the stopped session
n_after = phase1(spark)
assert n_after == n_before, (n_before, n_after)
# both stale frames were dropped; only the new matches frame is held
assert len(session._PERSISTED) == 1
# a live frame is still unpersisted by the next call
live = session._PERSISTED[0]
assert live.is_cached
phase1(spark)
assert not live.is_cached
# single-in-flight: an operator of another family releases the matches frame
live = session._PERSISTED[0]
assert live.is_cached
docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
dedup.ngram_jaccard_pairs(docs).count()
assert not live.is_cached
spark.stop()
print("JANITORS_OK", n_before)
"""


def test_janitors_survive_session_restart(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "JANITORS_OK" in out.stdout
