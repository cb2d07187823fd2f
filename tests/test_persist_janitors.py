"""Persist janitors across a session restart: a frame persisted under a
SparkSession that has since been stopped must be dropped by the next
operator call, not unpersisted through the dead context (which fails in
the JVM). Runs in a subprocess because it stops its own session."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
from ecc_spark import matches
from ecc_spark.fixtures import corpus_dataframes
from ecc_spark.ops import dedup, similarity
from ecc_spark.session import get_spark


def phase1(spark):
    documents, seeds_df, *_ = corpus_dataframes(spark, n_docs=20, n_seeds=8, seed=42)
    _, m, _ = matches.build_matches(documents, seeds_df)
    return m.count()


spark = get_spark("janitor_restart", cpus=2, shuffle_partitions=4)
n_before = phase1(spark)
for janitor in (dedup._PERSISTED, similarity._PERSISTED):
    frame = spark.range(100).persist()
    frame.count()
    janitor.append(frame)
spark.stop()

spark = get_spark("janitor_restart", cpus=2, shuffle_partitions=4)
# every janitor now holds a frame of the stopped session
n_after = phase1(spark)
dedup._drain_persisted()
similarity._drain_persisted()
assert not dedup._PERSISTED and not similarity._PERSISTED
assert n_after == n_before, (n_before, n_after)
# a live frame is still unpersisted by the next call
live = matches._PERSISTED[0]
assert live.is_cached
phase1(spark)
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
