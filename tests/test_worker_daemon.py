"""Python workers run the library's daemon (`_daemon.py`), whose
zipimporter re-reads an archive's directory only when the archive
changed on disk."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

from computer_vision_foundations_spark import _daemon


def test_workers_fork_from_library_daemon(spark):
    @pandas_udf("string")
    def daemon_of_worker(s: pd.Series) -> pd.Series:
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        spec = fn.__globals__.get("__spec__")
        return s.map(lambda _: spec.name if spec else fn.__module__)

    rows = spark.range(1).select(daemon_of_worker("id").alias("m")).collect()
    assert rows[0].m == "computer_vision_foundations_spark._daemon"


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("cvl_zip_probe_a.py", "X = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon._invalidate_caches)
    monkeypatch.setattr(_daemon, "_read_at", {})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("cvl_zip_probe_a").X == 1
        importlib.invalidate_caches()  # first call records the stat key
        reads.clear()
        importlib.invalidate_caches()
        assert str(archive) not in reads  # unchanged: not re-read

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("cvl_zip_probe_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1  # rewritten: read once
        assert importlib.import_module("cvl_zip_probe_b").Y == 2
    finally:
        for name in ("cvl_zip_probe_a", "cvl_zip_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)
