"""The Python-worker bootstrap (``data_reconciliation_spark.worker``):
installed in workers only, and there ``importlib.invalidate_caches()``
re-reads a zip archive on ``sys.path`` only when the archive changed.
These tests assert structure, not timing."""

from __future__ import annotations

import importlib
import pkgutil
import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

import pyspark.core.rdd
from pyspark import cloudpickle
from pyspark.sql import functions as F

import data_reconciliation_spark
from data_reconciliation_spark.functions.similarity import indel_ratio_udf
from data_reconciliation_spark.operators.blocking import attach_minhash_signature
from data_reconciliation_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    resize_images,
    sample_frames,
)
from data_reconciliation_spark.operators.temporal import asof_join
from data_reconciliation_spark.streaming.incremental import sessionize_events

REPO = Path(__file__).resolve().parents[1]
# CPython 3.13 invalidates zip caches lazily; the bootstrap is a no-op there.
PATCHED = "zipimport" if sys.version_info >= (3, 13) else "data_reconciliation_spark.worker"


def test_driver_keeps_stdlib_invalidate_caches():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_worker_reads_no_archive_per_task(spark):
    parts = 4

    def zip_reads(batches):
        """``mapInPandas`` probe (nested, so it is pickled by value), one
        row per partition: is the bootstrap installed, how many zip
        importers the worker holds, and how many archive directories one
        ``importlib.invalidate_caches()`` reads."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        # Unpickling any engine function imports the package on the worker.
        import data_reconciliation_spark  # noqa: F401

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame(
            {
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "importers": [sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())],
                "reads": [len(reads)],
            }
        )

    # An engine Arrow UDF first: the probe below runs in the same pool of
    # Arrow workers, so it lands in workers that ran engine code.
    fuzzy = spark.range(200).repartition(parts).select(
        indel_ratio_udf(F.col("id").cast("string"), F.lit("17")).alias("r")
    )
    assert fuzzy.where(F.col("r").isNull()).count() == 0
    probes = (
        spark.range(parts)
        .repartition(parts)
        .mapInPandas(zip_reads, "module string, importers long, reads long")
        .collect()
    )
    assert len(probes) == parts
    for p in probes:
        assert p.module == PATCHED
        assert p.importers > 0  # the worker imports pyspark and py4j from zips
        assert p.reads == 0


_CHANGED_ZIP_SCRIPT = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport
    from data_reconciliation_spark import worker

    def write(path, modules):
        with zipfile.ZipFile(path, "w") as z:
            for m in modules:
                z.writestr(m + ".py", f"NAME = {m!r}\\n")

    changed, same = sys.argv[1], sys.argv[2]
    write(changed, ["mod_a"])
    write(same, ["mod_s"])
    sys.path[:0] = [changed, same]
    import mod_a, mod_s

    worker.install()
    print(zipimport.zipimporter.invalidate_caches.__module__)
    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)

    importlib.invalidate_caches()
    assert reads == [], reads

    write(changed, ["mod_a", "mod_b"])
    importlib.invalidate_caches()
    import mod_b
    assert mod_b.NAME == "mod_b"
    assert reads == [changed], reads
    """
)


def test_bootstrap_rereads_only_changed_archives(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _CHANGED_ZIP_SCRIPT, str(tmp_path / "changed.zip"), str(tmp_path / "same.zip")],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == PATCHED


_UNPICKLE_SCRIPT = """
import sys
from pyspark import cloudpickle

for path in sys.argv[1:]:
    for name in [m for m in sys.modules if m.partition(".")[0] == "data_reconciliation_spark"]:
        del sys.modules[name]
    with open(path, "rb") as f:
        cloudpickle.loads(f.read())
    print("data_reconciliation_spark" in sys.modules)
"""


def _module_pandas_udfs() -> dict:
    """The pandas UDFs the package defines at module level, by name."""
    udfs = {}
    for info in pkgutil.walk_packages(data_reconciliation_spark.__path__, "data_reconciliation_spark."):
        module = importlib.import_module(info.name)
        for name, value in vars(module).items():
            if hasattr(value, "evalType") and value.__module__ == module.__name__:
                udfs[f"{module.__name__}.{name}"] = value
    return udfs


def test_every_engine_worker_function_imports_the_package(spark, monkeypatch, tmp_path):
    """A worker installs the bootstrap when it imports the package, and it
    imports the package only if unpickling the function the engine sent
    it does.  Capture what the driver pickles for each engine entry point
    (a module-level pandas UDF is pickled once per process, so those are
    pickled here directly) and unpickle each in a fresh interpreter."""
    shingles = spark.range(1).select(F.array(F.lit("a b c")).alias("sh"))
    media = spark.createDataFrame([], MEDIA_SCHEMA)
    left = spark.range(1).select(F.col("id").alias("user_id"), F.current_timestamp().alias("ts"))
    right = left.withColumn("value", F.lit(1.0))
    events = (
        spark.readStream.format("rate").load()
        .select(F.col("value").alias("user_id"), F.col("timestamp").alias("ts"))
    )
    entry_points = {
        "attach_minhash_signature": lambda: attach_minhash_signature(shingles, F.col("sh"), "sig"),
        "asof_join": lambda: asof_join(left, right, by=["user_id"]),
        "extract_features": lambda: extract_features(media),
        "sample_frames": lambda: sample_frames(media),
        "resize_images": lambda: resize_images(media),
        "sessionize_events": lambda: sessionize_events(events),
    }

    captured = []
    prepare = pyspark.core.rdd._prepare_for_python_RDD

    def capture(sc, command):
        out = prepare(sc, command)
        captured.append(out[0])
        return out

    monkeypatch.setattr(pyspark.core.rdd, "_prepare_for_python_RDD", capture)
    blobs = {}
    for name, build in entry_points.items():
        captured.clear()
        build()
        assert captured, f"{name} pickled nothing"
        blobs.update({f"{name}#{i}": b for i, b in enumerate(captured)})
    udfs = _module_pandas_udfs()
    assert {
        "data_reconciliation_spark.functions.similarity.indel_ratio_udf",
        "data_reconciliation_spark.functions.similarity.simhash64_md5_batch_udf",
        "data_reconciliation_spark.operators.scoring.jw_features_udf",
    } <= set(udfs)
    blobs.update({name: cloudpickle.dumps((u.func, u.returnType)) for name, u in udfs.items()})

    paths = []
    for i, blob in enumerate(blobs.values()):
        paths.append(tmp_path / f"{i}.pkl")
        paths[-1].write_bytes(blob)
    out = subprocess.run(
        [sys.executable, "-c", _UNPICKLE_SCRIPT, *map(str, paths)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    imported = out.stdout.split()
    assert len(imported) == len(blobs)
    assert [name for name, ok in zip(blobs, imported) if ok != "True"] == []
