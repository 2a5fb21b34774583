"""Driver-local frames and the Python worker daemon.

``local_frame`` must build the same frame ``createDataFrame`` builds,
but as a JVM ``LocalTableScan`` that starts no Python task; the engine
builds every driver-row frame through it. ``pvt_spark.daemon`` must
re-read a zip archive on ``invalidate_caches()`` only when the archive
changed, and the session's Python workers must run under it.
"""

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pvt_spark import daemon
from pvt_spark.session import local_frame

SCHEMA = "i int, l long, s string, a array<string>, m map<string,string>"
ROWS = [
    (1, 2**40, "x", ["p", None], {"k": "v"}),
    (None, None, None, None, None),
    (-3, -1, "", [], {}),
]


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    want = spark.createDataFrame(rows, SCHEMA)
    got = local_frame(spark, rows, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # Row input with a StructType schema round-trips too
    again = local_frame(spark, want.collect(), want.schema)
    assert again.schema == want.schema
    assert again.collect() == want.collect()


def test_local_frame_from_columns(spark):
    """A dict of column arrays builds the same frame as its rows; a
    value outside a narrower field type raises instead of wrapping."""
    import numpy as np

    cols = {"tile_h": np.array([7, 2**40], np.int64), "zoom": np.array([12, 0])}
    ddl = "zoom int, tile_h long"
    got = local_frame(spark, cols, ddl)
    assert got.collect() == local_frame(spark, [(12, 7), (0, 2**40)], ddl).collect()
    assert local_frame(spark, {"zoom": [], "tile_h": []}, ddl).count() == 0
    with pytest.raises(Exception, match="not in range"):
        local_frame(spark, {"zoom": np.array([2**40]), "tile_h": [0]}, ddl)


def test_local_frame_plans_a_local_table_scan(spark):
    plan = (
        local_frame(spark, ROWS, SCHEMA)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_no_create_dataframe_outside_local_frame():
    """Every driver-row frame goes through local_frame: a direct
    createDataFrame(<list>) would bring back the Python-RDD scan."""
    root = pathlib.Path(__file__).resolve().parents[1] / "pvt_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        allowed = set()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed.update(range(node.lineno, node.end_lineno + 1))
        for no, line in enumerate(src.splitlines(), 1):
            if "createDataFrame(" in line and no not in allowed:
                offenders.append(f"{path.relative_to(root.parent)}:{no}")
    assert not offenders, offenders


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily"
)
def test_zip_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pvt_zip_probe_a": "VALUE = 1\n"})
    # install() patches the class: restore the stock method afterwards
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(archive)
    assert daemon.install() and daemon.installed()
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    assert importlib.import_module("pvt_zip_probe_a").VALUE == 1

    importlib.invalidate_caches()  # first call stamps the importer
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n, "unchanged archive was re-read"

    _write_zip(archive, {"pvt_zip_probe_a": "VALUE = 1\n", "pvt_zip_probe_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == n + 1, "changed archive was not re-read"
    assert importlib.import_module("pvt_zip_probe_b").VALUE == 2
    for name in ("pvt_zip_probe_a", "pvt_zip_probe_b"):
        sys.modules.pop(name, None)


def test_python_workers_run_under_the_daemon_wrapper(spark):
    def probe(batches):
        from pvt_spark import daemon as d

        for _ in batches:
            yield pd.DataFrame({"ok": [d.installed()]})

    got = {
        r.ok
        for r in spark.range(4, numPartitions=2)
        .mapInPandas(probe, "ok boolean")
        .collect()
    }
    assert got == {sys.version_info < (3, 13)}
