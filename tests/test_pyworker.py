"""The Python worker daemon (cloudtiff_spark.pyworker): its zip-directory
guard on the driver, in the session's workers, and a session started from
a directory that does not hold the package."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from cloudtiff_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 13)


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("_ctsp_guard_probe.py", f"VALUE = {value}\n")


@pytest.mark.skipif(not GUARDED, reason="CPython 3.13+ invalidates zip directories lazily")
def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    assert pyworker.install() and pyworker.installed()
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "1")
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("_ctsp_guard_probe").VALUE == 1
        importlib.invalidate_caches()  # first call under the guard reads and stamps
        importer = sys.path_importer_cache[archive]
        files = importer._files
        del reads[:]
        importlib.invalidate_caches()
        assert reads == [] and importer._files is files

        _write_zip(archive, "22")  # another size
        importlib.invalidate_caches()
        assert reads == [archive]
        sys.modules.pop("_ctsp_guard_probe")
        assert importlib.import_module("_ctsp_guard_probe").VALUE == 22

        _write_zip(archive, "33")  # the same size, a later mtime
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads == [archive, archive]
        sys.modules.pop("_ctsp_guard_probe")
        assert importlib.import_module("_ctsp_guard_probe").VALUE == 33
    finally:
        sys.modules.pop("_ctsp_guard_probe", None)
        sys.path_importer_cache.pop(archive, None)


def test_session_workers_run_the_guard(spark):
    """Every worker forks from the daemon with the guard in place, and
    the per-task invalidation leaves the unchanged pyspark.zip and
    spark-core jar directories as they were."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        from cloudtiff_spark import pyworker

        zips = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        before = [i._files for i in zips]
        importlib.invalidate_caches()
        same = all(i._files is f for i, f in zip(zips, before))
        for _ in batches:
            yield pd.DataFrame(
                {"installed": [pyworker.installed()], "zips": [len(zips)], "same": [same]}
            )

    row = spark.range(1).mapInPandas(probe, "installed boolean, zips int, same boolean").first()
    assert row["installed"] == GUARDED
    assert row["zips"] > 0
    if GUARDED:
        assert row["same"]


def test_daemon_starts_from_any_working_directory(tmp_path):
    """get_spark puts the package's parent directory on the workers'
    PYTHONPATH, so the daemon module imports from a working directory that
    does not hold the package and with no PYTHONPATH set."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from cloudtiff_spark.session import get_spark

        spark = get_spark("pyworker-cwd", master="local[1]", shuffle_partitions=1)

        def f(batches):
            from cloudtiff_spark import pyworker
            for pdf in batches:
                yield pd.DataFrame({{"n": [len(pdf)], "guard": [pyworker.installed()]}})

        row = spark.range(1).mapInPandas(f, "n long, guard boolean").first()
        print("RESULT", row["n"], row["guard"])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert f"RESULT 1 {GUARDED}" in out.stdout, out.stderr[-4000:]
