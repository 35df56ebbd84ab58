"""The harness's task entry step (``harness.forget_foreign_zip_importers``):
inside a task no ``zipimporter`` for an archive outside the SparkFiles root
survives into user code, imports from those archives still work, and an
archive shipped with ``addPyFile`` keeps its importer."""

import uuid
import zipfile

import pypeln_spark as pl


def _counter():
    """A function that counts the ``zipimporter`` entries of
    ``sys.path_importer_cache`` whose archive lies outside the SparkFiles
    root (built per test so it pickles by value)."""

    def foreign_zip_importers(_x):
        import os
        import sys
        import zipimport

        from pyspark import SparkFiles

        root = os.path.join(SparkFiles.getRootDirectory(), "")
        return sum(
            1
            for finder in list(sys.path_importer_cache.values())
            if isinstance(finder, zipimport.zipimporter)
            and not finder.archive.startswith(root)
        )

    return foreign_zip_importers


def test_no_foreign_zip_importer_reaches_user_code(spark):
    counts = list(pl.process.map(_counter(), range(16), returns="long"))
    assert counts == [0] * 16


def test_fused_run_starts_without_foreign_zip_importers(spark):
    stage = range(16) | pl.process.map(lambda x: x + 1, returns="long")
    counts = list(stage | pl.process.map(_counter(), returns="long"))
    assert counts == [0] * 16


def test_map_rows_starts_without_foreign_zip_importers(spark):
    count = _counter()
    table = spark.range(8).toDF("id")
    out = pl.map_rows(lambda r: {"n": count(r)}, table, returns="n long")
    assert [r.n for r in out.df.collect()] == [0] * 8


def test_pyspark_submodule_imports_after_a_drained_stage(spark):
    assert sorted(pl.process.map(_counter(), range(8), returns="long")) == [0] * 8

    def norm(x):
        import importlib

        linalg = importlib.import_module("pyspark.ml.linalg")
        return float(linalg.DenseVector([x, -x]).norm(1))

    assert sorted(pl.process.map(norm, range(8), returns="double")) == [
        2.0 * x for x in range(8)
    ]


def test_add_py_file_archive_keeps_its_importer(spark, tmp_path):
    mod = f"pypeln_probe_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{mod}/__init__.py", "OFFSET = 100\n")
        zf.writestr(f"{mod}/late.py", "SCALE = 3\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(x):
        import importlib
        import os
        import sys
        import zipimport

        from pypeln_spark import harness

        base = importlib.import_module(mod).OFFSET
        harness.forget_foreign_zip_importers()
        kept = any(
            isinstance(f, zipimport.zipimporter)
            and os.path.basename(f.archive) == f"{mod}.zip"
            for f in list(sys.path_importer_cache.values())
        )
        scale = importlib.import_module(f"{mod}.late").SCALE
        return (base + x) * scale if kept else -1

    assert sorted(pl.process.map(probe, range(8), returns="long")) == [
        (100 + x) * 3 for x in range(8)
    ]
