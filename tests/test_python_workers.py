"""Python workers keep their zip-archive directories between tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
importing ``traffic_engine_spark`` in a worker makes each cached
``zipimporter`` re-read its archive only when the archive file changed
(``session._keep_zip_directories_in_workers``).  These tests check that
structurally — no timing assertion — and that files shipped with
``addPyFile`` are still importable once it is active.

Task functions are built inside factories so that cloudpickle ships them
by value: unpickling them imports nothing from this module, and only
imports ``traffic_engine_spark`` where the function body says so.
"""

from __future__ import annotations

import os
import uuid
import zipfile
import zipimport

import pandas as pd

from traffic_engine_spark import session
from traffic_engine_spark.plans import match as M
from traffic_engine_spark.plans import stats as S


def _directory_kept_probe(import_engine: bool):
    """A mapInPandas function yielding one row per task: whether every
    cached ``zipimporter`` kept its ``_files`` dict across
    ``importlib.invalidate_caches()``."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        if import_engine:
            import traffic_engine_spark  # noqa: F401
        for _ in batches:
            pass
        cached = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in cached]
        importlib.invalidate_caches()
        kept = bool(cached) and all(f._files is b for f, b in zip(cached, before))
        yield pd.DataFrame({"n_zip": [len(cached)], "kept": [kept]})

    return probe


def _run_probe(spark, import_engine: bool) -> pd.DataFrame:
    return (
        spark.range(8, numPartitions=8)
        .mapInPandas(_directory_kept_probe(import_engine), "n_zip int, kept boolean")
        .toPandas()
    )


def test_worker_keeps_zip_directories(spark):
    got = _run_probe(spark, import_engine=True)
    assert len(got) == 8
    assert got.kept.all(), got
    # the driver keeps the stdlib method
    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__, method.__qualname__) == (
        "zipimport", "zipimporter.invalidate_caches"
    )


def test_worker_keeps_zip_directories_after_pipeline(spark, spark_network, images_pd):
    """The engine's own kernels turn it on: after run_pipeline →
    histograms, the next tasks — which import nothing from the engine —
    run in workers that keep their directories."""
    segs, tls, jumpers = spark_network
    _, samples = M.run_pipeline(spark, spark.createDataFrame(images_pd), tls, segs, jumpers)
    assert S.histograms(samples).count() > 0
    got = _run_probe(spark, import_engine=False)
    assert got.kept.all(), got


def _import_probe(module_names):
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        patched = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
        values = [importlib.import_module(m).VALUE for m in module_names]
        yield pd.DataFrame({"patched": [patched], "values": [",".join(values)]})

    return probe


def test_add_py_file_still_importable(spark, tmp_path):
    """With the re-read skipped, a freshly shipped archive and a freshly
    shipped ``.py`` file are both importable in the workers: the archive
    is a new ``sys.path`` entry (fresh importer), the ``.py`` lands in the
    already-cached SparkFiles directory (its finder is still invalidated).
    Two rounds, so the second runs in workers that were already patched
    when their tasks started."""
    sc = spark.sparkContext
    _run_probe(spark, import_engine=True)
    for round_ in range(2):
        tag = uuid.uuid4().hex[:12]
        zmod, pmod = f"te_shipped_zip_{tag}", f"te_shipped_py_{tag}"
        zpath = tmp_path / f"{zmod}.zip"
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr(f"{zmod}.py", f"VALUE = 'zip{round_}'\n")
        ppath = tmp_path / f"{pmod}.py"
        ppath.write_text(f"VALUE = 'py{round_}'\n")
        sc.addPyFile(str(zpath))
        sc.addPyFile(str(ppath))
        got = (
            spark.range(8, numPartitions=8)
            .mapInPandas(_import_probe([zmod, pmod]), "patched boolean, values string")
            .toPandas()
        )
        assert got.patched.all(), got
        assert (got["values"] == f"zip{round_},py{round_}").all(), got


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    """The one case where Spark rewrites a shipped archive in place
    (``spark.files.overwrite=true`` and a same-named file added from
    another path): a changed archive file is re-read, an unchanged one is
    not.  Spark-free: the worker guard is forced on in this process and
    the stdlib method is restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(session.TaskContext, "get", classmethod(lambda cls: object()))
    session._keep_zip_directories_in_workers()
    assert zipimport.zipimporter.invalidate_caches.__module__ == session.__name__

    path = str(tmp_path / "shipped.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "VALUE = 1\n")
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()  # an importer made after the patch: first call re-reads
    files = importer._files
    importer.invalidate_caches()
    assert importer._files is files

    with zipfile.ZipFile(path + ".new", "w") as z:
        z.writestr("a.py", "VALUE = 1\n")
        z.writestr("b.py", "VALUE = 2\n")
    os.replace(path + ".new", path)
    importer.invalidate_caches()
    assert importer._files is not files
    assert "b.py" in importer._files
