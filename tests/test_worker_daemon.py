"""The engine's Python worker daemon (``go_web_mapreduce_spark.worker_daemon``):
its stat-guarded zip refresh, that the session's workers run under it, and
that they import the engine from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from go_web_mapreduce_spark import worker_daemon
from go_web_mapreduce_spark.worker_daemon import refresh_if_changed

ROOT = Path(__file__).resolve().parent.parent


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("graft_zip_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "graft_zip_a", raising=False)
    monkeypatch.delitem(sys.modules, "graft_zip_b", raising=False)
    assert importlib.import_module("graft_zip_a").VALUE == "a"
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)
    # importing worker_daemon must leave the class's method alone
    assert zipimport.zipimporter.invalidate_caches is not refresh_if_changed

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real_read(path))
    refresh_if_changed(importer)  # first call: no stamp yet, reads
    assert reads == [str(archive)]
    refresh_if_changed(importer)
    refresh_if_changed(importer)
    assert reads == [str(archive)], "an unchanged archive was re-read"

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("graft_zip_b.py", "VALUE = 'b'\n")
    refresh_if_changed(importer)
    assert reads == [str(archive)] * 2
    assert importlib.import_module("graft_zip_b").VALUE == "b"


def test_session_workers_run_the_guard(spark):
    # nested, so that it is pickled by value: workers cannot import tests/
    def refresh_in_worker(batches):
        import importlib
        import time
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t) * 1e3
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"file": [fn.__code__.co_filename],
                            "name": [fn.__name__], "ms": [ms]})

    spark.range(1, numPartitions=1).mapInPandas(
        refresh_in_worker, "file string, name string, ms double").collect()  # warm
    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        refresh_in_worker, "file string, name string, ms double").collect()
    assert row["name"] == "refresh_if_changed"
    assert os.path.samefile(row["file"], worker_daemon.__file__)
    assert row["ms"] < 20, f"importlib.invalidate_caches() took {row['ms']:.1f} ms"


def test_workers_import_the_engine_from_any_cwd(tmp_path, sf_dir):
    """Without PYTHONPATH and outside the checkout, only the session's
    ``spark.executorEnv.PYTHONPATH`` lets the daemon and the workers (which
    unpickle engine functions) import the package."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from go_web_mapreduce_spark.core import wordcount_algorithm
        from go_web_mapreduce_spark.queries import REGISTRY
        from go_web_mapreduce_spark.session import get_spark
        from go_web_mapreduce_spark.sources.tables import local_frame

        spark = get_spark("cwd-test", master="local[2]", shuffle_partitions=2)
        words = local_frame(spark, [(str(i), w) for i, w in
                                    enumerate("a bb a ccc bb a".split())],
                            "key string, value string")
        got = dict(map(tuple, wordcount_algorithm(words, 2, 2).collect()))
        assert got == {{"a": "3", "bb": "2", "ccc": "1"}}, got
        assert REGISTRY["q_knn_graph"].fn(spark, {sf_dir!r}).count() > 0
        spark.stop()
        print("ok")
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), (
        out.stdout[-2000:] + out.stderr[-4000:])
