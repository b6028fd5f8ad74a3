"""The Python worker daemon (``mapshaper_spark._worker_daemon``): the
archive strip rule, what a worker imports, and a session started
outside the repo."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import textwrap
import zipfile

import pytest

from mapshaper_spark import __version__
from mapshaper_spark._worker_daemon import plain_path

REPO = pathlib.Path(__file__).resolve().parent.parent


def _package(root: pathlib.Path, name: str) -> str:
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")
    return str(root)


def _zip(path: pathlib.Path, *names: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}/__init__.py", "")
    return str(path)


def test_plain_path_strip_rule(tmp_path):
    """Archive entries go only when a plain pyspark and py4j are
    findable on the rest of the path."""
    both = _zip(tmp_path / "pyspark.zip", "pyspark", "py4j")
    jar = _zip(tmp_path / "spark-core.JAR", "org")
    plain = _package(tmp_path / "site", "pyspark")
    _package(tmp_path / "site", "py4j")
    only_pyspark = _package(tmp_path / "half", "pyspark")
    empty = str(tmp_path / "empty")
    os.mkdir(empty)

    assert plain_path([both, jar, empty, plain]) == [empty, plain]
    # py4j only inside the zip: nothing is dropped
    assert plain_path([both, jar, only_pyspark]) == [both, jar, only_pyspark]
    # a dir that holds only a zip
    assert plain_path([both, empty]) == [both, empty]
    assert plain_path([]) == []


def test_worker_conf_merges_caller_values():
    """The package path goes first on the executor ``PYTHONPATH``, the
    caller's entries stay after it, and a caller's daemon module wins."""
    import pyspark

    from mapshaper_spark.session import _worker_conf

    conf = _worker_conf({"spark.executorEnv.PYTHONPATH": os.pathsep.join(["/a", str(REPO), "/b"])})
    assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [str(REPO), "/a", "/b"]
    plain = os.path.isfile(pyspark.__file__)
    assert conf.get("spark.python.daemon.module") == ("mapshaper_spark._worker_daemon" if plain else None)
    assert _worker_conf({"spark.python.daemon.module": "mine"})["spark.python.daemon.module"] == "mine"


def test_workers_import_plain_pyspark(spark):
    """A worker imports the driver's pyspark files, and no zipimporter
    is left for ``invalidate_caches`` to re-read on every task."""
    import pyspark

    if not os.path.isfile(pyspark.__file__):
        pytest.skip("the driver's own pyspark is zip-loaded")

    def probe(it):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in it:
            n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
            yield pd.DataFrame({"file": [pyspark.__file__], "zipimporters": [n]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(probe, "file string, zipimporters int").collect()
    assert os.path.isfile(row["file"]), row
    assert not any(p.lower().endswith((".zip", ".jar")) for p in pathlib.Path(row["file"]).parts)
    assert row["zipimporters"] == 0


def test_session_outside_repo_without_pythonpath(tmp_path):
    """A driver that finds the package through ``sys.path`` alone, run
    from a foreign cwd with no ``PYTHONPATH``, can run a Python stage:
    ``get_spark`` ships the package path to the workers."""
    script = tmp_path / "job.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(REPO)!r})
            from mapshaper_spark.session import get_spark

            spark = get_spark("daemon-cwd", cpus=1, shuffle_partitions=1,
                              extra_conf={{"spark.driver.memory": "1g"}})

            def f(it):
                import mapshaper_spark
                for pdf in it:
                    yield pdf.assign(v=mapshaper_spark.__version__)

            rows = spark.range(1).mapInPandas(f, "id long, v string").collect()
            print("OK", rows[0]["v"])
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    r = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert f"OK {__version__}" in r.stdout
