"""The Python worker daemon: zip directories re-read only on change."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ocrodjvu_spark import worker_daemon


def _write_zip(path, files):
    with zipfile.ZipFile(path, 'w') as zf:
        for name, source in files.items():
            zf.writestr(name, source)
    return str(path)


@pytest.fixture()
def patched(monkeypatch):
    """The daemon's patch in this process, and a counter of directory
    reads per archive."""
    if hasattr(zipimport.zipimporter, '_get_files'):
        pytest.skip('zipimport reads directories lazily on this Python')
    monkeypatch.setattr(zipimport.zipimporter, 'invalidate_caches',
                        worker_daemon.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, '_read_directory', counting)
    yield lambda archive: reads.count(archive)
    for name in [m for m in sys.modules if m.startswith('zd_')]:
        del sys.modules[name]


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, patched):
    archive = _write_zip(tmp_path / 'mods.zip', {
        'zd_a.py': 'X = 1\n',
        'zd_pkg/__init__.py': '',
        'zd_pkg/m.py': 'Z = 3\n'})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module('zd_a').X == 1
    assert importlib.import_module('zd_pkg.m').Z == 3
    importers = [i for i in sys.path_importer_cache.values()
                 if isinstance(i, zipimport.zipimporter)
                 and i.archive == archive]
    assert len(importers) == 2  # the archive root and zd_pkg/
    built = patched(archive)  # read when the first importer was built
    importlib.invalidate_caches()  # stamps both with one read
    n = patched(archive)
    assert n == built + 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert patched(archive) == n

    # a rewritten archive is read once for both importers, and a module
    # added to it imports after the next invalidation
    _write_zip(archive, {
        'zd_a.py': 'X = 1\n',
        'zd_b.py': 'Y = 2\n',
        'zd_pkg/__init__.py': '',
        'zd_pkg/m.py': 'Z = 3\n',
        'zd_pkg/n.py': 'W = 4\n'})
    importlib.invalidate_caches()
    assert patched(archive) == n + 1
    assert importlib.import_module('zd_b').Y == 2
    assert importlib.import_module('zd_pkg.n').W == 4
    importlib.invalidate_caches()
    assert patched(archive) == n + 1


def test_missing_archive_takes_the_stock_path(tmp_path, monkeypatch,
                                              patched):
    archive = _write_zip(tmp_path / 'gone.zip', {'zd_c.py': 'V = 5\n'})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module('zd_c')
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    (tmp_path / 'gone.zip').unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    _write_zip(archive, {'zd_c.py': 'V = 5\n', 'zd_d.py': 'U = 6\n'})
    importlib.invalidate_caches()
    assert importlib.import_module('zd_d').U == 6


def test_session_workers_run_the_patched_daemon(spark):
    # every get_spark session's Python workers fork from the daemon
    # module, and their command line still names pyspark (how the
    # benchmark finds the workers to read their memory)
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf('string')
    def where(s: pd.Series) -> pd.Series:
        method = zipimport.zipimporter.invalidate_caches
        with open('/proc/self/cmdline', 'rb') as fh:
            cmdline = fh.read().replace(b'\0', b' ').decode()
        return pd.Series([f'{method.__module__}|{cmdline}'] * len(s))

    rows = spark.range(8).repartition(2).select(
        where('id').alias('w')).distinct().collect()
    assert rows
    for row in rows:
        module, cmdline = row.w.split('|', 1)
        assert module == 'ocrodjvu_spark.worker_daemon'
        assert 'ocrodjvu_spark.worker_daemon' in cmdline
        assert 'pyspark' in cmdline


def test_worker_imports_no_pandas():
    """A Python worker imports the daemon and, through the package, the
    extraction path: none of it may pull in pandas, which costs every
    worker ~0.5 s of imports and ~24 MB."""
    code = ('import sys, ocrodjvu_spark.worker_daemon, '
            'ocrodjvu_spark.functions.extract, ocrodjvu_spark.functions.emit, '
            'ocrodjvu_spark.functions.multimodal; '
            "print(sorted(m for m in sys.modules if m.startswith('pandas')))")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, '-c', code], cwd=root, check=True,
                         capture_output=True, text=True)
    assert out.stdout.strip() == '[]'
