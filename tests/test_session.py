"""Session sizing from the host, and where Python workers import pyspark."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from jaccard_ml_spark._daemon import redundant_archives
from jaccard_ml_spark.session import (
    SHM_HEADROOM,
    driver_memory_from_meminfo,
    shuffle_on_shm,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GIB = 1024**3


def mem(kb):
    return (f"MemTotal:       {kb} kB\n"
            "MemFree:         1024 kB\n")


def test_driver_memory_is_half_of_memtotal_capped_at_32g():
    assert driver_memory_from_meminfo(mem(16 * 1024 * 1024)) == "8192m"
    assert driver_memory_from_meminfo(mem(16_384_000)) == "8000m"
    assert driver_memory_from_meminfo(mem(128 * 1024 * 1024)) == "32768m"
    assert driver_memory_from_meminfo("MemFree: 1 kB\n") == "32g"


def test_shuffle_on_shm_needs_ram_left_beside_the_driver_heap():
    gib_kb = 1024 * 1024
    # a 16 GiB host whose tmpfs is sized to RAM: the 8 GiB default heap
    # leaves 8 GiB, so shuffle stays on disk however free the tmpfs is
    assert not shuffle_on_shm(mem(16 * gib_kb), 16 * GIB)
    assert not shuffle_on_shm(mem(16 * gib_kb), 64 * GIB)
    # 32 GiB host: 16 GiB heap leaves exactly the headroom
    assert shuffle_on_shm(mem(32 * gib_kb), SHM_HEADROOM)
    assert not shuffle_on_shm(mem(32 * gib_kb), SHM_HEADROOM - 1)
    assert not shuffle_on_shm(mem(30 * gib_kb), SHM_HEADROOM)
    # big host, small shm mount
    assert not shuffle_on_shm(mem(256 * gib_kb), 4 * GIB)
    assert shuffle_on_shm(mem(256 * gib_kb), 20 * GIB)
    assert not shuffle_on_shm("MemFree: 1 kB\n", 64 * GIB)


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _pkg(root, name, version):
    os.makedirs(os.path.join(root, name))
    for f, data in (("__init__.py", ""), ("version.py", version)):
        with open(os.path.join(root, name, f), "w") as fh:
            fh.write(data)


def test_redundant_archives_needs_an_identical_directory_copy(tmp_path):
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    site = str(tmp_path / "site")
    _pkg(site, "same", "v = '1'\n")
    _pkg(site, "differs", "v = '1'\n")
    same = _zip(lib / "same.zip", {"same/__init__.py": "",
                                   "same/version.py": "v = '1'\n"})
    differs = _zip(lib / "differs.zip", {"differs/__init__.py": "",
                                         "differs/version.py": "v = '2'\n"})
    no_python = _zip(home / "jars" / "core.jar",
                     {"META-INF/MANIFEST.MF": "", "org/a/B.class": "x"})
    outside = _zip(tmp_path / "elsewhere" / "same.zip",
                   {"same/__init__.py": "", "same/version.py": "v = '1'\n"})
    python_dir = str(home / "python")
    path = [python_dir, same, differs, no_python, site, outside]

    assert redundant_archives(path, str(home)) == [same, no_python]

    # a package with no directory copy keeps its archive, and so does
    # one that another archive would serve once it is gone
    assert redundant_archives([same, no_python], str(home)) == [no_python]
    assert redundant_archives([same, outside, site], str(home)) == []


def test_python_workers_import_pyspark_from_a_directory(spark):
    """Workers must not hold a zipimporter for anything under
    $SPARK_HOME: each task's ``importlib.invalidate_caches()`` makes
    every one re-read its archive (``jaccard_ml_spark._daemon``)."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    zip_path = os.path.join(home, "python", "lib", "pyspark.zip")
    if not os.path.isfile(zip_path):
        pytest.skip(f"no pyspark.zip under SPARK_HOME={home}")
    with zipfile.ZipFile(zip_path) as z:
        packed = z.read("pyspark/version.py")
    with open(os.path.join(os.path.dirname(pyspark.__file__),
                           "version.py"), "rb") as f:
        if f.read() != packed:
            pytest.skip("installed pyspark differs from $SPARK_HOME's "
                        "pyspark.zip, so workers keep importing the zip")

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        keys = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict(
            {"file": [pyspark.__file__], "zip_keys": [keys]})

    rows = (spark.range(0, 4, numPartitions=4)
            .mapInArrow(probe, "file string, zip_keys array<string>")
            .collect())
    assert len(rows) == 4
    real_home = os.path.realpath(home) + os.sep
    for r in rows:
        assert os.path.isfile(r.file), r.file   # not a path inside a zip
        assert [k for k in r.zip_keys
                if os.path.realpath(k).startswith(real_home)] == []


_FRESH_SESSION = """
import json, sys
sys.path.insert(0, sys.argv[1])
import jaccard_ml_spark
assert "pyspark" not in sys.modules, "package import pulled in pyspark"
spark = jaccard_ml_spark.get_spark(master="local[1]")

def where(batches):
    import os, pyarrow as pa, pyspark
    n = sum(b.num_rows for b in batches)
    yield pa.RecordBatch.from_pydict(
        {"rows": [n], "cwd": [os.getcwd()], "file": [pyspark.__file__]})

rows = spark.range(10).mapInArrow(
    where, "rows long, cwd string, file string").collect()
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


def test_fresh_session_runs_python_udfs_from_any_cwd(tmp_path):
    """The worker daemon module must import whatever the caller's cwd
    is; otherwise every Python UDF of the session fails."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_LOCAL_DIR=str(tmp_path / "local"))
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION, REPO], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    assert sum(r["rows"] for r in rows) == 10
    assert {r["cwd"] for r in rows} == {str(tmp_path)}
