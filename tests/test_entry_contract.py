"""Driver-contract tests: entry() smoke, queries()/oracle_sql() registry
consistency, and column-name alignment between Spark and oracle results.

The driver's compare sorts columns BY NAME before hashing, so a Spark
result and its oracle twin must expose identical column-name sets — this
test enforces that for every oracle pair cheaply (DuckDB describe-only,
Spark schema-only; no execution of the full queries).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from pyp_etl_pipeline_spark.tables import TABLES


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_registry_shapes():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 56
    assert set(o) == set(q)  # every query oracle-verified — keep it that way
    # only genuinely non-SQL ops may omit the oracle
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "select" in s.lower() for s in o.values())


def test_driver_priority_unique_and_resolvable():
    """ADVICE r10: duplicate _DRIVER_PRIORITY names are harmless for
    ordering (dict keeps the first occurrence) but misrepresent the
    documented backfill order — ban them, and ban dangling names that
    silently drop out of the window."""
    from pyp_etl_pipeline_spark import driver_queries_ext as d

    dupes = [n for n in set(d._DRIVER_PRIORITY) if d._DRIVER_PRIORITY.count(n) > 1]
    assert not dupes, dupes
    dangling = [n for n in d._DRIVER_PRIORITY if n not in d.REGISTRY]
    assert not dangling, dangling


@pytest.mark.slow
def test_spark_oracle_column_names_align(spark, sf_dir):
    """Schema-only pass: Spark .columns vs DuckDB described columns, PLUS
    the driver-fidelity dtype check (VERDICT r7): any twin output column
    DuckDB types as HUGEINT (the silent ``sum(BIGINT)``/``list_sum``/
    windowed-sum widening) hashes as float64 on the driver while Spark
    emits int64 — local string-normalized compares can't see it, so it
    is banned structurally here. A twin that trips this needs a
    ``CAST(... AS BIGINT)``."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_correctness import dtype_mismatches, duck_described_types  # noqa: PLC0415

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    mismatches = {}
    dtype_bad = {}
    for name, sql in o.items():
        sdf = q[name](spark, sf_dir)
        spark_cols = sorted(sdf.columns)
        duck_types = duck_described_types(con, sql)
        oracle_cols = sorted(c for c, _ in duck_types)
        if spark_cols != oracle_cols:
            mismatches[name] = (spark_cols, oracle_cols)
        bad = dtype_mismatches(dict(sdf.dtypes), duck_types)
        if bad:
            dtype_bad[name] = bad
    assert not mismatches, f"column-name drift: {mismatches}"
    assert not dtype_bad, f"driver-visible dtype drift (HUGEINT/DECIMAL twins): {dtype_bad}"


def test_registry_complete_under_either_import_order(tmp_path):
    """Every registry query must carry its oracle regardless of which
    driver_queries module is imported first (the cross-module composed
    oracles — a03/ev01/pp02 — once raced the REGISTRY snapshot), and
    the part-3/part-4 modules must import without pulling in the
    registry module: the registry is assembled top-down, with no cycle."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for first in ("driver_queries_ext3", "driver_queries_ext4"):
        code = (
            f"import sys; sys.path.insert(0, {repo!r});"
            f"import pyp_etl_pipeline_spark.{first};"
            "assert 'pyp_etl_pipeline_spark.driver_queries_ext' not in sys.modules;"
            "from pyp_etl_pipeline_spark import driver_queries_ext as m;"
            "qs, os_ = m.queries(), m.oracle_sql();"
            "missing = sorted(set(qs) - set(os_));"
            "assert not missing, missing; print(len(qs), len(os_))"
        )
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, cwd=tmp_path
        )
        assert out.returncode == 0, (first, out.stderr[-2000:])
        n_q, n_o = out.stdout.split()
        assert n_q == n_o


def test_p01_oracle_text_is_hash_seed_independent(tmp_path):
    """p01's oracle lists each field's header aliases; built from a set,
    the SQL text changed with PYTHONHASHSEED (same rows), so registry
    dumps did not compare byte-for-byte across processes."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {repo!r});"
        "from pyp_etl_pipeline_spark.driver_queries_ext3 import P01_SQL;"
        "print(P01_SQL)"
    )
    texts = []
    for seed in ("1", "2"):
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, cwd=tmp_path,
            env={**os.environ, "PYTHONHASHSEED": seed},
        )
        assert out.returncode == 0, out.stderr[-2000:]
        texts.append(out.stdout)
    assert "VALUES" in texts[0]
    assert texts[0] == texts[1]


def test_bench_query_names_resolve():
    """Every name in bench.py's HEADLINE/EXTENDED lists must exist in the
    registry — a typo here silently drops a query from the driver's
    per-round benchmark."""
    import importlib.util
    import os

    from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in REGISTRY]
    assert not missing, f"bench names not in registry: {missing}"
    dupes = [n for n in set(bench.EXTENDED) if bench.EXTENDED.count(n) > 1]
    assert not dupes, f"duplicate bench entries: {dupes}"


def test_rotate_window_tool_is_consistent():
    """tools/rotate_window.py proposes the next driver window from the
    evidence ledger; its output must be duplicate-free, cover every
    registry query, and put zero-evidence queries inside the 50-slot
    window (the gt01 lesson, automated)."""
    import re
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/rotate_window.py"],
        capture_output=True, text=True, check=True, cwd="/root/repo",
        timeout=300,
    ).stdout
    names = re.findall(r'^    "(\w+)",', out, flags=re.M)
    from pyp_etl_pipeline_spark import driver_queries_ext as d

    assert len(names) == len(set(names))
    assert set(names) == set(d.REGISTRY)
    window = names[:50]
    no_evidence = [n for n in names if f'"{n}",  # evidence r—' in out]
    assert all(n in window for n in no_evidence)


def test_bare_session_workers_import_the_shipped_package(tmp_path):
    """A bare ``local[2]`` session (not ``get_spark``) run from a cwd
    outside the repo, with the repo on the DRIVER's sys.path only: the
    Python workers can import the package solely because the operators
    ship it (``session.ship_package``). That is the one mechanism — no
    other package module touches sys.path."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = pathlib.Path(repo, "pyp_etl_pipeline_spark")
    mentions = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p != pkg / "session.py" and "sys.path" in p.read_text()
    )
    assert not mentions, mentions

    xlsx = str(tmp_path / "upload.xlsx")
    code = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyp_etl_pipeline_spark.multimodal import codecs, h264
from pyp_etl_pipeline_spark.multimodal.binary_ops import decode_features
from pyp_etl_pipeline_spark.sources.ingest import read_excel_distributed
from pyp_etl_pipeline_spark.sources.xlsx import write_xlsx
from pyp_etl_pipeline_spark.tables import synth_media

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
docs = spark.range(1, 4).withColumnRenamed("id", "doc_id")
png = decode_features(synth_media(docs, lambda i: codecs.png_encode_gray(i, 2, 7 * i)))
print(sorted((r.media_id, r.format, r.width, r.height, r.mean_val) for r in png.collect()))
sps = synth_media(docs, lambda i: b"junk" if i == 2 else h264.sps_encode(16 * i, 32))
rows = h264.sps_features(sps, permissive=True).collect()
print(sorted((r.media_id, r.width, r.height, r.error is None) for r in rows))
write_xlsx({xlsx!r}, ["a", "b"], [["1", "x"], ["2", "y"], ["3", "z"]])
print(sorted(tuple(r) for r in read_excel_distributed(spark, {xlsx!r}, rows_per_task=1).collect()))
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=tmp_path, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-3:] == [
        "[(1, 'png', 1, 2, 7.0), (2, 'png', 2, 2, 14.0), (3, 'png', 3, 2, 21.0)]",
        "[(1, 16, 32, True), (2, None, None, False), (3, 48, 32, True)]",
        "[('1', 'x'), ('2', 'y'), ('3', 'z')]",
    ]
