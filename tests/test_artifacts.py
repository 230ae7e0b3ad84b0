"""Lifecycle of the registry's shared per-session artifacts
(``registry._artifact``): one build per key under concurrency, eviction
of other sessions' entries, and the bench's build-line contract.

Every test uses a key no real query uses (a distinct sf_dir string or
a fake application id), so the session's real artifacts survive.
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time

from mcp_memory_libsql_spark import registry as reg

BUILD_LINES = [
    "kg_snapshot_index_build",
    "nbr_postings_index_build",
    "lsh_signature_index_build",
    "lpa_labels_index_build",
    "lsh_neardup_pairs_build",
    "refresh_base_build",
    "neardup_base_build",
    "lpa_hist_base_build",
]


def test_concurrent_fetch_builds_once(spark, monkeypatch):
    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def counting_mkdtemp(*args, **kwargs):
        path = real_mkdtemp(*args, **kwargs)
        made.append(path)
        return path

    monkeypatch.setattr(reg.tempfile, "mkdtemp", counting_mkdtemp)
    calls: list[str] = []
    start = threading.Barrier(8)

    @reg._artifact("test_race_artifact")
    def build(spark, sf_dir, path):
        calls.append(path)
        time.sleep(0.2)  # widen the window an unguarded getter would race in
        with open(os.path.join(path, "marker"), "w") as f:
            f.write(sf_dir)
        return path

    sf_dir = "/nonexistent/test_concurrent_fetch_builds_once"
    got: list[str] = []

    def fetch():
        start.wait()
        got.append(build(spark, sf_dir))

    threads = [threading.Thread(target=fetch) for _ in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)

    key = (spark.sparkContext.applicationId, sf_dir, "test_race_artifact")
    try:
        assert len(calls) == 1
        assert len(made) <= 1
        assert got == [calls[0]] * 8
        assert reg._ARTIFACTS[key] == (calls[0], calls[0])
        assert os.path.isfile(os.path.join(calls[0], "marker"))
    finally:
        with reg._ARTIFACT_LOCK:
            reg._ARTIFACTS.pop(key, None)
        for path in made:
            reg.shutil.rmtree(path, ignore_errors=True)


def test_tfidf_fetch_evicts_other_sessions(spark, sf_dir):
    # the TF-IDF artifact is the path that skipped eviction before the
    # artifacts shared one getter
    stale_dir = tempfile.mkdtemp(prefix="spark_test_stale_")
    stale_key = ("fake-app-previous-session", sf_dir, "tfidf_index")
    with reg._ARTIFACT_LOCK:
        reg._ARTIFACTS[stale_key] = ("stale", stale_dir)
    try:
        pipeline, doc_vecs = reg._tfidf_index(spark, sf_dir)
        assert stale_key not in reg._ARTIFACTS
        assert not os.path.exists(stale_dir)
        assert all(k[0] == spark.sparkContext.applicationId for k in reg._ARTIFACTS)
        assert pipeline is not None and "doc_id" in doc_vecs.columns
    finally:
        with reg._ARTIFACT_LOCK:
            reg._ARTIFACTS.pop(stale_key, None)
        reg.shutil.rmtree(stale_dir, ignore_errors=True)


def test_build_indexes_reports_the_eight_lines_in_order(spark, sf_dir):
    import bench

    builds = bench._build_indexes(spark, sf_dir)
    assert list(builds) == BUILD_LINES
    assert all(isinstance(v, float) and v >= 0 for v in builds.values())
    # the lines name the cached artifacts: a second fetch is a cache hit
    assert reg._kg(spark, sf_dir) is reg._kg(spark, sf_dir)
