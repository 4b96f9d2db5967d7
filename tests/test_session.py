"""The worker-side zip-directory guard (``session._invalidate_if_changed``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from tgist_features_spark import session


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name.replace('.', '/')}.py", f"NAME = {name!r}\n")


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    # two importers share the archive: its root, and pkg's (prefix "pkg/")
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1", "pkg.__init__", "pkg.m0"])
    monkeypatch.syspath_prepend(archive)
    names = ("m1", "m2", "pkg", "pkg.m0", "pkg.m3")
    try:
        assert importlib.import_module("m1").NAME == "m1"
        assert importlib.import_module("pkg.m0").NAME == "pkg.m0"
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(importers) == 2

        reads = []
        upstream_read = zipimport._read_directory

        def counting_read(path):
            if path == archive:
                reads.append(path)
            return upstream_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        monkeypatch.setattr(
            zipimport.zipimporter, "invalidate_caches", session._invalidate_if_changed
        )

        importlib.invalidate_caches()  # first guarded call: no key yet, reads
        assert len(reads) == 2
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 2  # unchanged archive: not re-read

        _write_zip(archive, ["m1", "m2", "pkg.__init__", "pkg.m0", "pkg.m3"])
        importlib.invalidate_caches()
        assert len(reads) == 4  # changed archive: each importer reads it once
        assert importlib.import_module("m2").NAME == "m2"
        assert importlib.import_module("pkg.m3").NAME == "pkg.m3"
        importlib.invalidate_caches()
        assert len(reads) == 4
    finally:
        for name in names:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_guard_installs_in_workers_only(spark):
    session.warm_python_workers(spark)

    def report(batches):
        import os
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "method": [zipimport.zipimporter.invalidate_caches.__name__]}
        )

    rows = (
        spark.range(0, 8, 1, numPartitions=8)
        .mapInPandas(report, "pid long, method string")
        .collect()
    )
    assert {r.method for r in rows} == {"_invalidate_if_changed"}, rows
    assert zipimport.zipimporter.invalidate_caches is session._upstream_invalidate
    assert zipimport.zipimporter.invalidate_caches.__name__ == "invalidate_caches"


def test_declared_parallelism():
    """Shuffle partitions are sized from what the launcher declared, not
    from the executors registered when the session starts."""
    declared = session._declared_parallelism
    assert declared("local-cluster[4,1,1024]", {}) == 4
    assert declared("local-cluster[ 2 , 3 , 512 ]", {}) == 6
    yarn = {"spark.executor.instances": "10", "spark.executor.cores": "4"}
    assert declared("yarn", yarn) == 40
    assert declared("local-cluster[4,1,1024]", {"spark.default.parallelism": "7"}) == 7
    # nothing declared: get_spark reads the live defaultParallelism
    assert declared("local[4]", {}) is None
    assert declared(None, {}) is None
    assert declared("yarn", {"spark.executor.instances": "10"}) is None
    assert declared("spark://host:7077", {"spark.executor.cores": "4"}) is None
