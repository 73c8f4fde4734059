"""Session sizing, session confs and the Python worker daemon
(``session.get_spark``, ``daemon``): the stat-gated zip-archive
invalidation, the machine-sized driver heap, workers that import the
package from any directory, who owns each session conf, and the
checkpoint file manager stream logs are written through."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from kafka_connect_minio_pipeline_spark import daemon
from kafka_connect_minio_pipeline_spark.session import (
    conf_is_set,
    conf_scope,
    driver_memory_for,
)
from kafka_connect_minio_pipeline_spark.tables import load

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def gated(monkeypatch):
    """The stat-gated invalidation installed for one test, and a counter of
    central-directory reads per archive path."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    if not daemon.install():
        pytest.skip("this interpreter's zipimporter re-reads lazily")
    reads: dict[str, int] = {}
    real = zipimport._read_directory

    def counted(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_gated_invalidation_skips_unchanged_archive(gated, tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"kcm_zip_a": "x = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # a fresh importer has no stamp yet
    gated.clear()
    for _ in range(3):
        imp.invalidate_caches()
    assert gated.get(path, 0) == 0
    assert imp.find_spec("kcm_zip_a") is not None


def test_gated_invalidation_rereads_rewritten_archive(gated, tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"kcm_zip_b": "x = 1\n"})
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module("kcm_zip_b").x == 1
        importlib.invalidate_caches()
        gated.clear()
        importlib.invalidate_caches()
        assert gated.get(path, 0) == 0
        with pytest.raises(ImportError):
            importlib.import_module("kcm_zip_c")
        _write_zip(path, {"kcm_zip_b": "x = 1\n", "kcm_zip_c": "y = 2\n"})
        importlib.invalidate_caches()
        assert gated.get(path, 0) >= 1
        assert importlib.import_module("kcm_zip_c").y == 2
    finally:
        for name in ("kcm_zip_b", "kcm_zip_c"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)


def test_gated_invalidation_of_deleted_archive_matches_eager(gated, tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"kcm_zip_d": "x = 1\n"})
    imp, ref = zipimport.zipimporter(path), zipimport.zipimporter(path)
    imp.invalidate_caches()
    os.remove(path)
    imp.invalidate_caches()
    daemon._eager(ref)
    assert imp._files == ref._files == {}
    assert path not in zipimport._zip_directory_cache
    assert imp.find_spec("kcm_zip_d") is None
    # a restored archive is read again
    _write_zip(path, {"kcm_zip_d": "x = 1\n"})
    imp.invalidate_caches()
    assert imp.find_spec("kcm_zip_d") is not None


def test_gate_not_installed_on_lazy_zipimporter(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {},
                        raising=False)
    before = zipimport.zipimporter.invalidate_caches
    assert daemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is before


def test_driver_memory_is_a_quarter_of_memtotal_capped():
    def meminfo(kib: int) -> str:
        return f"MemTotal:       {kib} kB\nMemFree:         1024 kB\n"

    assert driver_memory_for(meminfo(15 * 1024 * 1024)) == "3840m"
    assert driver_memory_for(meminfo(16_069_892)) == "3923m"
    assert driver_memory_for(meminfo(512 * 1024 * 1024)) == "16384m"
    assert driver_memory_for(meminfo(2 * 1024 * 1024)) == "1024m"
    assert driver_memory_for("MemFree: 1024 kB\n") is None


def test_reused_worker_does_not_reread_zip_archives(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = [0]
        real = zipimport._read_directory

        def counted(archive):
            reads[0] += 1
            return real(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [reads[0]], "importers": [n]})

    one = spark.range(1).coalesce(1)
    runs = [one.mapInPandas(probe, "reads long, importers long").collect()[0]
            for _ in range(2)]
    reads, importers = runs[1]
    if importers == 0:
        pytest.skip("the worker imports nothing from a zip archive")
    assert reads == 0, f"{reads} archive re-reads over {importers} zipimporters"


_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from kafka_connect_minio_pipeline_spark.session import get_spark

def where(batches):
    import zipimport
    import pandas as pd
    import kafka_connect_minio_pipeline_spark as pkg
    for b in batches:
        yield pd.DataFrame({{
            "n": [len(b)],
            "pkg": [pkg.__file__],
            "gate": [zipimport.zipimporter.invalidate_caches.__name__],
        }})

spark = get_spark(app_name="worker_path", cores=1)
row = spark.range(5).coalesce(1).mapInPandas(
    where, "n long, pkg string, gate string").collect()[0]
print(json.dumps(row.asDict()))
spark.stop()
"""


def test_workers_import_package_from_any_directory(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(_SCRIPT.format(repo=REPO)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, str(script)], cwd="/", env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    row = json.loads(out.stdout.strip().splitlines()[-1])
    assert row["n"] == 5
    assert row["pkg"] == os.path.join(REPO, "kafka_connect_minio_pipeline_spark",
                                      "__init__.py")
    expected = "invalidate_caches" if hasattr(zipimport.zipimporter, "_get_files") \
        else "_invalidate_caches"
    assert row["gate"] == expected


SHUFFLE = "spark.sql.shuffle.partitions"


def test_load_keeps_the_sessions_shuffle_partitions(spark, sf_dir):
    """A shuffle-partition count the session chose survives ``load``."""
    orig = spark.conf.get(SHUFFLE)
    try:
        spark.conf.set(SHUFFLE, "37")
        load(spark, sf_dir, "orders")
        assert spark.conf.get(SHUFFLE) == "37"
    finally:
        spark.conf.set(SHUFFLE, orig)


def test_load_fills_in_shuffle_partitions_the_session_never_set(spark, sf_dir):
    orig = spark.conf.get(SHUFFLE)
    try:
        spark.conf.unset(SHUFFLE)
        assert not conf_is_set(spark, SHUFFLE)
        load(spark, sf_dir, "orders")
        assert spark.conf.get(SHUFFLE) == str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(SHUFFLE, orig)


def test_conf_scope_restores_a_held_value_and_unsets_a_default(spark):
    held = "spark.sql.files.maxRecordsPerFile"
    unheld = "spark.sql.files.openCostInBytes"
    spark.conf.set(held, "5")
    spark.conf.unset(unheld)
    try:
        with conf_scope(spark, {held: "7", unheld: "1234"}):
            assert spark.conf.get(held) == "7"
            assert spark.conf.get(unheld) == "1234"
        assert spark.conf.get(held) == "5"
        assert not conf_is_set(spark, unheld)
    finally:
        spark.conf.unset(held)


def test_stream_logs_go_through_the_filesystem_checkpoint_manager(spark, tmp_path):
    """Stream metadata logs are written with ``FileSystem.create`` and
    ``FileSystem.rename``, not the FileContext manager, whose every rename
    forks a ``readlink`` process on a local disk without libhadoop."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf())
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
