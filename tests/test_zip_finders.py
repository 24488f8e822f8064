"""zip_finders: zip import finders re-read an archive on
invalidate_caches() only when its (mtime_ns, size) changed, and the
Python workers run with them once they have loaded package code."""

from __future__ import annotations

import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

import pytest

from datawarehouse1_spark import zip_finders
from datawarehouse1_spark.zip_finders import StampedZipImporter


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


@pytest.fixture()
def reads(monkeypatch):
    """Counts central-directory reads of each archive."""
    counts: dict[str, int] = {}
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/mod.py": "X = 1\n"})
    root, sub = StampedZipImporter(archive), StampedZipImporter(f"{archive}/pkg")
    before = reads.get(archive, 0)
    for _ in range(3):
        root.invalidate_caches()
        sub.invalidate_caches()
    assert reads.get(archive, 0) == before
    assert sub.find_spec("pkg.mod") is not None


def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": ""})
    finder = StampedZipImporter(f"{archive}/pkg")
    assert finder.find_spec("pkg.late") is None
    # one more member: the size changes even within the mtime resolution
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/late.py": "Y = 2\n"})
    before = reads.get(archive, 0)
    finder.invalidate_caches()
    assert reads.get(archive, 0) == before + 1
    assert finder.find_spec("pkg.late") is not None
    finder.invalidate_caches()  # the new stamp is remembered
    assert reads.get(archive, 0) == before + 1


def test_new_path_hook_entries_get_the_subclass(tmp_path, monkeypatch):
    archive = str(tmp_path / "hooked.zip")
    _write_zip(archive, {"hooked_mod.py": "Z = 3\n"})
    # the stdlib state before the package's own install()
    monkeypatch.setattr(
        sys,
        "path_hooks",
        [zipimport.zipimporter if h is StampedZipImporter else h for h in sys.path_hooks],
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    plain = zipimport.zipimporter(archive)
    sys.path_importer_cache[archive] = plain

    zip_finders.install()
    zip_finders.install()  # idempotent

    assert zipimport.zipimporter not in sys.path_hooks
    assert sys.path_hooks.count(StampedZipImporter) == 1
    assert type(sys.path_importer_cache[archive]) is StampedZipImporter
    fresh = str(tmp_path / "fresh.zip")
    _write_zip(fresh, {"fresh_mod.py": ""})
    spec = PathFinder.find_spec("fresh_mod", [fresh])
    assert spec is not None
    assert type(sys.path_importer_cache[fresh]) is StampedZipImporter


def test_reused_worker_runs_tasks_with_the_subclass(spark):
    """Each task reports, before it touches package code, whether every
    zip finder cached in its worker is the subclass, then loads the
    package. A worker that ran one such task runs its next ones with
    the subclass installed, i.e. through the per-task
    importlib.invalidate_caches() that pyspark calls before the task."""
    import pandas as pd

    def probe(batches):
        import os as _os
        import sys as _sys
        import zipimport as _zipimport

        zips = [
            f for f in _sys.path_importer_cache.values()
            if isinstance(f, _zipimport.zipimporter)
        ]
        stamped = bool(zips) and all(
            type(f).__name__ == "StampedZipImporter" for f in zips
        )
        import datawarehouse1_spark  # noqa: F401  (what package code does)

        for _ in batches:
            yield pd.DataFrame({"pid": [_os.getpid()], "stamped": [stamped]})

    seen: dict[int, list[bool]] = {}
    for _ in range(6):
        row = (
            spark.range(1, numPartitions=1)
            .mapInPandas(probe, "pid long, stamped boolean")
            .collect()[0]
        )
        seen.setdefault(row.pid, []).append(row.stamped)
    reused = {pid: flags for pid, flags in seen.items() if len(flags) > 1}
    assert reused, f"no worker ran two tasks: {seen}"
    for flags in reused.values():
        assert all(flags[1:]), seen
