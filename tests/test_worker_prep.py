# -*- coding: utf-8 -*-
"""``prepare_python_worker``: a reused Python worker's per-task fixed cost.

pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
before every task, and on Python 3.11 each cached ``zipimporter`` then
re-reads its whole archive directory; the daemon runs a full
``gc.collect()`` after every task.  The helper drops the zip importers
from ``sys.path_importer_cache`` and freezes the long-lived heap once.
Also here: ``default_cores``, the session's default ``local[N]``.
"""

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest

from document_convert_to__markdown_spark.pipeline.session import (
    default_cores,
    prepare_python_worker,
)


def _zip_importers(cache) -> int:
    return sum(isinstance(f, zipimport.zipimporter) for f in cache.values())


@pytest.fixture
def zipped_modules(tmp_path):
    """A zip holding two modules, on ``sys.path``; all state restored after."""
    archive = tmp_path / "prep_mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("prep_mod_a.py", "VALUE = 'a'\n")
        zf.writestr("prep_mod_b.py", "VALUE = 'b'\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    gc.unfreeze()
    sys.path.insert(0, str(archive))
    try:
        yield archive
    finally:
        for name in ("prep_mod_a", "prep_mod_b"):
            sys.modules.pop(name, None)
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        gc.unfreeze()


def test_drops_zip_importers_and_imports_still_work(zipped_modules):
    import prep_mod_a
    assert prep_mod_a.VALUE == "a"
    cache = sys.path_importer_cache
    assert isinstance(cache[str(zipped_modules)], zipimport.zipimporter)

    prepare_python_worker()
    assert _zip_importers(cache) == 0
    frozen = gc.get_freeze_count()
    assert frozen > 0

    # The worker's order: invalidate, then import something new.
    importlib.invalidate_caches()
    import prep_mod_b
    assert prep_mod_b.VALUE == "b"
    assert prep_mod_b.__loader__.archive == str(zipped_modules)

    # Frozen once per process: a second freeze would take in these new
    # tracked objects; frozen objects freed by refcount can only lower
    # the count.
    fresh = [[] for _ in range(1000)]
    prepare_python_worker()
    assert _zip_importers(cache) == 0
    assert 0 < gc.get_freeze_count() <= frozen
    del fresh


@pytest.mark.spark
def test_real_worker_is_prepared_by_extract_body(spark):
    """A real worker, after draining ``_extract_partition`` over one
    empty batch, holds no zip importer and has a frozen heap."""
    import pandas as pd

    def body(batches):
        import gc as wgc
        import sys as wsys
        import zipimport as wzip

        from document_convert_to__markdown_spark.pipeline.job import (
            _extract_partition,
        )

        # Not _zip_importers: the worker cannot import this test module.
        def count():
            return sum(isinstance(f, wzip.zipimporter)
                       for f in wsys.path_importer_cache.values())

        for _ in batches:
            pass
        before = count()
        empty = pd.DataFrame({
            "url": pd.Series([], dtype=object),
            "html": pd.Series([], dtype=object),
            "_len": pd.Series([], dtype="int64"),
        })
        out = list(_extract_partition(iter([empty])))
        yield pd.DataFrame({
            "before": [before], "after": [count()],
            "frozen": [wgc.get_freeze_count()],
            "trailers": [sum(len(o) for o in out)],
        })

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(body, "before long, after long, frozen long, "
                              "trailers long")
           .first())
    print(f"worker zipimporters before _extract_partition: {row.before}")
    assert row.trailers == 1  # only the metrics trailer
    assert row.after == 0
    assert row.frozen > 0


def test_default_cores_is_env_then_host_cpu_count(monkeypatch):
    # build_session's local[N] and its shuffle width start from this:
    # SPARK_GRAFT_CPUS when set, else the host's CPUs, never a fixed 32.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == "3"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr("os.cpu_count", lambda: 5)
    assert default_cores() == "5"
