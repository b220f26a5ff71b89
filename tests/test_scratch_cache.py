"""Lifecycle pins for the ADVICE r9/r10 regression surface: scratch
directories must be swept at interpreter exit, and the idempotent-ingest
corpus cache must evict entries whose session has stopped (a pinned dead
JVM handle can never be returned again)."""

from __future__ import annotations

import os
import subprocess
import sys
import threading

from pyp_etl_pipeline_spark import tables


def test_scratch_paths_swept_at_interpreter_exit(tmp_path):
    """Run scratch_path in a THROWAWAY interpreter (no JVM needed), make
    the directory, let the process exit, and assert the atexit sweep
    removed it — the real contract, not a unit proxy."""
    code = (
        "import os\n"
        "from pyp_etl_pipeline_spark.tables import scratch_path\n"
        "p = scratch_path('atexit_pin')\n"
        "os.makedirs(p, exist_ok=True)\n"
        "open(os.path.join(p, 'x.txt'), 'w').write('scratch')\n"
        "print(p, flush=True)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
        cwd="/root/repo", timeout=300,
    )
    p = out.stdout.strip().splitlines()[-1]
    assert "pyp_atexit_pin_" in p
    assert not os.path.exists(p), p


def test_scratch_path_registered_and_sweep_idempotent(tmp_path):
    p = tables.scratch_path("sweep_unit")
    os.makedirs(p, exist_ok=True)
    assert p in tables._SCRATCH_PATHS
    tables._sweep_scratch()
    assert not os.path.exists(p)
    tables._sweep_scratch()  # second sweep on missing dirs must not raise


class _DeadHandle:
    """Stands in for a DataFrame whose session's JVM is gone — any
    attribute access raises, which _session_stopped maps to 'dead'."""

    @property
    def sparkSession(self):  # noqa: N802 — mirrors the pyspark attr
        raise RuntimeError("JVM gone")


def test_corpus_cache_evicts_stopped_sessions(spark, sf_dir):
    """Seed the cache with a dead-session entry, then hit the cache
    concurrently from several threads: every caller must get the SAME
    live DataFrame (lock-guarded single materialization) and the dead
    entry must be evicted — without stopping the suite's shared
    session."""
    dead_key = ("app-stopped-pin", "/nonexistent", "documents")
    with tables._UNIQUE_LOCK:
        tables._UNIQUE_CACHE[dead_key] = _DeadHandle()

    results = []
    errors = []

    def hit():
        try:
            results.append(tables.load_corpus_unique(spark, sf_dir, "documents"))
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=hit) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    assert len({id(df) for df in results}) == 1  # one shared materialization
    with tables._UNIQUE_LOCK:
        assert dead_key not in tables._UNIQUE_CACHE
        live_key = (
            spark.sparkContext.applicationId,
            os.path.abspath(sf_dir),
            "documents",
        )
        assert live_key in tables._UNIQUE_CACHE
