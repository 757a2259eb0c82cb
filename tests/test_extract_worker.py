"""The kernel's worker shim: a reused Python worker does not re-read the
zip archives on its import path before each task unless they changed.

Counted, not timed: the tests count calls of ``zipimport._read_directory``,
which reads an archive's whole central directory."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from tablestructurerec_spark.plans import extract


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["tsr_shim_a"])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    # restores the class attribute and the reader after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("tsr_shim_a").NAME == "tsr_shim_a"
        extract._skip_unchanged_zip_rereads()
        patched = zipimport.zipimporter.invalidate_caches
        extract._skip_unchanged_zip_rereads()
        assert zipimport.zipimporter.invalidate_caches is patched  # idempotent

        importlib.invalidate_caches()  # an importer's first call re-reads
        assert str(archive) in reads
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        # a re-shipped archive is re-read, and its new module imports
        st = os.stat(archive)
        _write_zip(archive, ["tsr_shim_a", "tsr_shim_b"])
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert str(archive) in reads
        assert importlib.import_module("tsr_shim_b").NAME == "tsr_shim_b"
    finally:
        for name in ("tsr_shim_a", "tsr_shim_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def _probe(batches):
    """One row per task: whether this worker runs the shim, how many zip
    importers it holds, how many of them have never been stat-checked (an
    importer made since the task's own refresh, e.g. for a path entry that
    no import had walked yet), and how many archive directories a call of
    ``importlib.invalidate_caches()`` re-reads."""
    for _ in batches:
        pass
    importers = [
        f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
    ]
    unchecked = sum(not hasattr(f, "_read_stat") for f in importers)
    reads = [0]
    read_directory = zipimport._read_directory

    def counting(path):
        reads[0] += 1
        return read_directory(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    yield pd.DataFrame({
        "pid": [os.getpid()],
        "patched": [getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)],
        "importers": [len(importers)],
        "unchecked": [unchecked],
        "reads": [reads[0]],
    })


def test_reused_worker_skips_rereads_after_a_kernel_task(spark):
    """After one ``extract_tables`` job, a probe task in the same workers
    re-reads no archive directory that its importer has read before: only
    an importer's first call reads."""
    from tablestructurerec_spark.plans.extract import extract_tables
    from tablestructurerec_spark.sources.synthetic import synth_transcripts

    p = spark.sparkContext.defaultParallelism
    schema = "pid long, patched boolean, importers long, unchecked long, reads long"
    turns = synth_transcripts(spark, n_convs=8, mean_turns=4, seed=3).repartition(p)
    assert extract_tables(turns).count() > 0
    probes = spark.range(p, numPartitions=p).mapInPandas(_probe, schema).collect()
    if not any(r.importers for r in probes):
        pytest.skip("no zip archive on the workers' import path")
    patched = [r for r in probes if r.patched]
    assert any(r.importers > r.unchecked for r in patched), probes
    assert all(r.reads == r.unchecked for r in patched), probes
