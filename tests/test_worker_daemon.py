"""The Python worker daemon: zipimport refresh patch and worker start-up."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from sanctum_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_probe_a.py": "A = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_probe_a").A == 1
        importer = sys.path_importer_cache[archive]
        importlib.invalidate_caches()  # no stamp yet: refresh and stamp
        assert importer.find_spec("wd_probe_a") is not None
        # Counted from here on, whether the interpreter re-reads the
        # directory inside invalidate_caches (3.11) or on the next lookup
        # (3.12+): an unchanged archive is never read again.
        settled = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
            assert importer.find_spec("wd_probe_a") is not None
        assert len(reads) == settled

        _write_zip(archive, {"wd_probe_a.py": "A = 1\n", "wd_probe_b.py": "B = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("wd_probe_b").B == 2
        assert len(reads) == settled + 1
        importlib.invalidate_caches()
        assert importer.find_spec("wd_probe_b") is not None
        assert len(reads) == settled + 1
    finally:
        for mod in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


_SESSION_SRC = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql.functions import pandas_udf
from sanctum_spark.session import get_spark

spark = get_spark("worker-daemon-test", {"spark.ui.showConsoleProgress": "false"})


@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def patch_origin(batches):
    import zipimport

    origin = zipimport.zipimporter.invalidate_caches.__code__.co_filename
    for b in batches:
        yield pd.DataFrame({"origin": [origin] * len(b)})


df = spark.range(0, 100, numPartitions=2)
total = df.select(plus_one("id").alias("x")).agg({"x": "sum"}).collect()[0][0]
origins = sorted({r.origin for r in df.mapInPandas(patch_origin, "origin string").collect()})
print("RESULT:" + json.dumps({"total": total, "origins": origins}))
spark.stop()
"""


def test_session_workers_start_outside_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_SRC, REPO],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:"))
    out = json.loads(line[len("RESULT:"):])
    assert out["total"] == sum(range(1, 101))
    assert out["origins"] == [os.path.join(REPO, "sanctum_spark", "worker_daemon.py")]
