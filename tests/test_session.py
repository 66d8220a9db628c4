"""The session's Python worker set-up: the stat-gated zip cache of
``worker_daemon`` and the workers' import path."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from reduction_dask_spark import worker_daemon

from .conftest import REPO

OLD_ZIPIMPORT = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ re-reads zip archives lazily; the daemon keeps the stock method",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@OLD_ZIPIMPORT
def test_zip_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"rds_zip_alpha": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    try:
        assert importlib.import_module("rds_zip_alpha").X == 1
        n_reads = reads.count(str(archive))
        # the first invalidation reads (the importer never has) ...
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n_reads + 1
        # ... and an unchanged archive is not read again
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n_reads + 1

        _write_zip(archive, {"rds_zip_alpha": "X = 1\n", "rds_zip_beta": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n_reads + 2
        assert importlib.import_module("rds_zip_beta").Y == 2
    finally:
        sys.modules.pop("rds_zip_alpha", None)
        sys.modules.pop("rds_zip_beta", None)


@OLD_ZIPIMPORT
def test_workers_run_the_stat_gated_invalidate(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pydict({"file": [code.co_filename]})

    files = {r.file for r in spark.range(4).mapInArrow(probe, "file string").collect()}
    assert files and all(
        f.endswith(os.path.join("reduction_dask_spark", "worker_daemon.py")) for f in files
    ), files


def test_python_udf_runs_from_another_cwd(tmp_path):
    """The workers import the daemon from the package, so get_spark
    must make the package importable to them wherever the driver was
    started; if it does not, the job fails and so does this test."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from reduction_dask_spark.session import get_spark

        def double(batches):
            import pyarrow as pa
            import reduction_dask_spark
            for rb in batches:
                yield pa.RecordBatch.from_pydict(
                    {{"v": [2 * v for v in rb.column(0).to_pylist()]}}
                )

        spark = get_spark("cwd_probe", cpus=2)
        out = spark.range(10).mapInArrow(double, "v long").collect()
        print("SUM", sum(r.v for r in out))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "SUM 90" in proc.stdout, proc.stderr[-4000:]
