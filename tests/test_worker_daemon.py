"""The engine worker daemon: stat-checked zipimporter invalidation, and a
local session whose Python workers run under it."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from bloqsenjin_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="stdlib zipimporter invalidation is lazy from 3.13")
def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"wd_probe_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)

    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    worker_daemon.invalidate_caches(importer)  # first call: no stamp yet
    assert reads == [path]
    worker_daemon.invalidate_caches(importer)  # unchanged: no re-read
    assert reads == [path]
    assert _load(importer, "wd_probe_a").X == 1

    _write_zip(path, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
    worker_daemon.invalidate_caches(importer)
    assert reads == [path, path]
    assert _load(importer, "wd_probe_b").Y == 2

    # a deleted archive takes the stdlib path every time: empty listing,
    # nothing cached
    os.remove(path)
    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(importer)
    assert reads == [path] * 4
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    assert _load(importer, "wd_probe_a") is None

    # ... and a re-created one is read again
    _write_zip(path, {"wd_probe_c": "Z = 3\n"})
    worker_daemon.invalidate_caches(importer)
    assert reads == [path] * 5
    assert _load(importer, "wd_probe_c").Z == 3


_SESSION_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
from bloqsenjin_spark.session import get_spark

def probe(it):
    import sys, zipimport
    import bloqsenjin_spark
    import pandas as pd
    hook = zipimport.zipimporter.invalidate_caches
    stamped = sum(1 for imp in sys.path_importer_cache.values()
                  if "_read_stat" in getattr(imp, "__dict__", {{}}))
    for _ in it:
        yield pd.DataFrame({{"pkg": [bloqsenjin_spark.__file__],
                             "hook": [hook.__code__.co_filename + ":" + hook.__name__],
                             "stamped": [stamped]}})

spark = get_spark("worker-daemon-test", cores=1, shuffle_partitions=1)
row = spark.range(1, numPartitions=1).mapInPandas(
    probe, "pkg string, hook string, stamped long").first()
spark.stop()
print("RESULT " + json.dumps(row.asDict()))
"""


def test_session_workers_run_engine_daemon_outside_repo(tmp_path):
    """get_spark from a foreign cwd with PYTHONPATH unset: the task imports
    the engine, and its worker ran the daemon's invalidate_caches."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_SCRIPT.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert os.path.dirname(os.path.dirname(got["pkg"])) == ROOT
    if sys.version_info < (3, 13):
        assert got["hook"] == worker_daemon.__file__ + ":invalidate_caches"
        assert got["stamped"] > 0
