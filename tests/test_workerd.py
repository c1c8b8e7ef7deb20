"""The worker daemon shim (orc_rs_spark._workerd) and get_spark's guard.

The eviction step runs in a subprocess per case: it edits ``sys.path`` and
``sys.path_importer_cache`` and must see a process where pyspark is not yet
imported, as Spark's daemon does. Fake Spark zips in ``tmp_path`` stand in
for ``pyspark.zip``, ``py4j-*-src.zip`` and the spark-core JAR. The freeze
wrapper runs in a subprocess too, since ``gc.freeze()`` lasts for the life
of the process.
"""

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import importlib.util, json, os, sys, zipimport
root, zips = sys.argv[1], json.loads(sys.argv[2])
sys.path[0:0] = [root] + zips  # Spark's entries come before site-packages
importlib.util.find_spec("no_such_module")  # caches an importer per entry
pyspark_zip = next(z for z in zips if z.endswith("pyspark.zip"))
sub = os.path.join(pyspark_zip, "pyspark")
sys.path_importer_cache[sub] = zipimport.zipimporter(sub)  # a subpackage entry
if sys.argv[3] == "import-pyspark":
    import pyspark
from orc_rs_spark import _workerd
if sys.argv[4] == "main":
    import runpy
    runpy.run_module = lambda *a, **k: print("RUN", json.dumps([a, k]))
    _workerd.main()
    evicted = None
else:
    evicted = _workerd.evict_spark_zips()
zip_keys = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
print(json.dumps({"evicted": evicted, "path": sys.path, "zip_keys": zip_keys}))
"""


def _installed_version_py() -> bytes:
    spec = importlib.util.find_spec("pyspark")  # locates without importing
    with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
        return f.read()


def _zip(path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _spark_zips(tmp_path, version_py: bytes) -> dict:
    return {
        "pyspark": _zip(tmp_path / "pyspark.zip", {"pyspark/version.py": version_py}),
        "py4j": _zip(tmp_path / "py4j-0.10.9.9-src.zip", {"py4j/version.py": "x = 0\n"}),
        "jar": _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {"org/apache/spark/x.class": b"\0"}),
        # a --py-files zip, and the program's own artifact: never dropped
        "deps": _zip(tmp_path / "deps.zip", {"deps/__init__.py": ""}),
        "pkg": _zip(tmp_path / "orc_rs_spark.zip", {"orc_rs_spark/__init__.py": ""}),
    }


def _run(tmp_path, zips: dict, pre: str = "", mode: str = "evict", site: bool = True) -> dict:
    cmd = [sys.executable] + ([] if site else ["-S"])
    cmd += ["-c", SCRIPT, ROOT, json.dumps(list(zips.values())), pre, mode]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["run"] = [json.loads(x[4:]) for x in lines if x.startswith("RUN ")]
    return result


def _unchanged(result: dict, zips: dict) -> None:
    assert result["evicted"] in (False, None)
    for z in zips.values():
        assert z in result["path"]
        assert z in result["zip_keys"]
    assert os.path.join(zips["pyspark"], "pyspark") in result["zip_keys"]


def test_evicts_spark_zips_when_versions_match(tmp_path):
    zips = _spark_zips(tmp_path, _installed_version_py())
    r = _run(tmp_path, zips)
    assert r["evicted"] is True
    for k in ("pyspark", "py4j", "jar"):
        assert zips[k] not in r["path"]
        assert not any(key == zips[k] or key.startswith(zips[k] + os.sep) for key in r["zip_keys"])


def test_never_drops_an_unrelated_zip(tmp_path):
    zips = _spark_zips(tmp_path, _installed_version_py())
    r = _run(tmp_path, zips)
    assert r["evicted"] is True
    for k in ("deps", "pkg"):
        assert zips[k] in r["path"]
        assert zips[k] in r["zip_keys"]


def test_falls_back_when_versions_differ(tmp_path):
    zips = _spark_zips(tmp_path, b"__version__: str = '0.0.0'\n")
    _unchanged(_run(tmp_path, zips), zips)


def test_falls_back_when_pyspark_already_imported(tmp_path):
    zips = _spark_zips(tmp_path, _installed_version_py())
    _unchanged(_run(tmp_path, zips, pre="import-pyspark"), zips)


def test_falls_back_without_an_unpacked_pyspark(tmp_path):
    # -S: no site-packages, so only the (fake) zips could provide pyspark
    zips = _spark_zips(tmp_path, _installed_version_py())
    _unchanged(_run(tmp_path, zips, site=False), zips)


@pytest.mark.parametrize("same_version", [True, False])
def test_main_runs_stock_daemon_either_way(tmp_path, same_version):
    version_py = _installed_version_py() if same_version else b"x = 1\n"
    zips = _spark_zips(tmp_path, version_py)
    r = _run(tmp_path, zips, mode="main")
    assert r["run"] == [[["pyspark.daemon"], {"run_name": "__main__", "alter_sys": True}]]
    if not same_version:
        _unchanged(r, zips)
    else:
        assert zips["pyspark"] not in r["path"]


# ------------------------------------------------------- the freeze wrapper

FREEZE_SCRIPT = """
import gc, json, sys, weakref
from orc_rs_spark import _workerd

gc.disable()  # only explicit collections, so a cycle dies exactly when one runs
calls = []
for name in ("collect", "freeze"):
    real = getattr(gc, name)
    setattr(gc, name, lambda *a, _real=real, _name=name: calls.append(_name) or _real(*a))


class Node:
    pass


class Out:  # the worker's output stream
    def flush(self):
        calls.append("flush")


class BrokenOut:  # the JVM went away
    def flush(self):
        calls.append("flush")
        raise BrokenPipeError


def task(infile, outfile):
    module, exit_code = infile  # what the fake task is told to do
    node = Node()
    node.self = node  # a reference cycle: only the collector frees it
    cycles.append(weakref.ref(node))
    if module:
        __import__(module)
    if exit_code is not None:
        sys.exit(exit_code)


def step():
    out = {"calls": calls[:], "frozen": gc.get_freeze_count(), "alive": cycles[-1]() is not None}
    del calls[:]
    return out


cycles = []
main = _workerd.freeze_after_imports(task)
out = {"preloaded": [m for m in ("fractions", "colorsys", "graphlib") if m in sys.modules]}
out["start"] = gc.get_freeze_count()
main(("fractions", None), Out())
out["importing"] = step()
main((None, None), Out())
out["plain"] = step()
gc.collect()  # what the daemon runs after every task
out["daemon_collect"] = step()
try:
    main(("colorsys", 3), Out())
except SystemExit as e:
    out["exit_code"] = e.code
out["failed"] = step()
main(("graphlib", None), BrokenOut())
out["broken_pipe"] = step()
print(json.dumps(out))
"""


def _freeze_trace(reuse: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    if reuse:
        env["SPARK_REUSE_WORKER"] = "1"  # what Spark sets when workers are reused
    out = subprocess.run(
        [sys.executable, "-c", FREEZE_SCRIPT],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    trace = json.loads(out.stdout.strip().splitlines()[-1])
    assert trace["preloaded"] == [] and trace["start"] == 0
    return trace


@pytest.fixture(scope="module")
def freeze_trace():
    return _freeze_trace(reuse=True)


def test_task_that_imports_freezes_the_heap(freeze_trace):
    first = freeze_trace["importing"]
    assert first["calls"] == ["flush", "collect", "freeze"]
    assert first["frozen"] > 0
    assert not first["alive"]  # the task's cycle was collected, not frozen


def test_task_that_imports_nothing_does_not_freeze_again(freeze_trace):
    plain = freeze_trace["plain"]
    assert plain["calls"] == []
    assert plain["frozen"] == freeze_trace["importing"]["frozen"]


def test_later_task_garbage_is_reclaimed_by_the_daemon_collect(freeze_trace):
    assert freeze_trace["plain"]["alive"]  # nothing collected it yet
    assert freeze_trace["daemon_collect"]["calls"] == ["collect"]
    assert not freeze_trace["daemon_collect"]["alive"]


def test_system_exit_propagates_without_a_freeze(freeze_trace):
    assert freeze_trace["exit_code"] == 3
    failed = freeze_trace["failed"]
    assert failed["calls"] == []
    assert failed["frozen"] == freeze_trace["importing"]["frozen"]


def test_failed_flush_skips_the_freeze(freeze_trace):
    broken = freeze_trace["broken_pipe"]
    assert broken["calls"] == ["flush"]  # the daemon's own flush reports the error
    assert broken["frozen"] == freeze_trace["importing"]["frozen"]


def test_worker_that_is_not_reused_never_freezes():
    trace = _freeze_trace(reuse=False)
    assert trace["importing"]["calls"] == []
    assert trace["importing"]["frozen"] == 0


MAIN_SCRIPT = """
import json, runpy, sys
from orc_rs_spark import _workerd


def daemon(*args, **kwargs):  # reads the worker's main as pyspark.daemon does
    from pyspark.worker import main

    print(json.dumps([args, kwargs, main.__code__.co_filename == _workerd.__file__]))


runpy.run_module = daemon
_workerd.main()
"""


@pytest.mark.parametrize("argv", [[], ["pyspark.worker"]])
def test_main_wraps_the_worker_main_before_the_daemon_reads_it(argv):
    out = subprocess.run(
        [sys.executable, "-c", MAIN_SCRIPT, *argv],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    args, kwargs, wrapped = json.loads(out.stdout.strip().splitlines()[-1])
    assert args == ["pyspark.daemon"] and kwargs == {"run_name": "__main__", "alter_sys": True}
    assert wrapped


# ------------------------------------------------------- get_spark's guard

DAEMON = {"spark.python.daemon.module": "orc_rs_spark._workerd"}


def test_conf_set_for_local_masters_only(monkeypatch):
    from orc_rs_spark import session

    monkeypatch.chdir(ROOT)
    assert session._workerd_conf("local[2]") == DAEMON
    assert session._workerd_conf("local") == DAEMON
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]", "k8s://x"):
        assert session._workerd_conf(master) == {}


def test_conf_unset_when_daemon_cannot_find_the_package(monkeypatch, tmp_path):
    from orc_rs_spark import session

    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session._workerd_conf("local[2]") == {}
    assert session._workerd_conf("local[2]", ROOT) == DAEMON
    # python -m leaves the working directory off the path under PYTHONSAFEPATH
    monkeypatch.chdir(ROOT)
    monkeypatch.setenv("PYTHONSAFEPATH", "1")
    assert session._workerd_conf("local[2]") == {}


def test_conf_unset_for_package_imported_from_zip(tmp_path):
    archive = shutil.make_archive(
        str(tmp_path / "orc_rs_spark"), "zip", root_dir=ROOT, base_dir="orc_rs_spark"
    )
    code = (
        "import json; from orc_rs_spark import session; "
        "print(json.dumps([session.__file__, session._workerd_conf('local[2]', sys.argv[1])]))"
    )
    env = dict(os.environ, PYTHONPATH=archive)
    out = subprocess.run(
        [sys.executable, "-c", "import sys; " + code, archive],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    origin, conf = json.loads(out.stdout.strip().splitlines()[-1])
    assert origin.startswith(archive + os.sep)
    assert conf == {}


@pytest.mark.spark
def test_workers_import_pyspark_unpacked(spark):
    def probe(batches):
        import json
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        cache = sys.path_importer_cache.items()
        zips = [k for k, v in cache if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pylist([{"file": pyspark.__file__, "zips": json.dumps(zips)}])

    assert spark.conf.get("spark.python.daemon.module") == "orc_rs_spark._workerd"
    row = spark.range(1, numPartitions=1).mapInArrow(probe, "file string, zips string").collect()[0]
    assert os.path.isfile(row["file"]), row["file"]
    assert json.loads(row["zips"]) == []


@pytest.mark.spark
def test_reused_worker_runs_on_a_frozen_heap(spark):
    def probe(batches):
        import gc

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"frozen": gc.get_freeze_count(), "live": len(gc.get_objects())}]
        )

    df = spark.range(1, numPartitions=1).mapInArrow(probe, "frozen long, live long")
    df.collect()  # the first job leaves a worker that has imported what the probe needs
    row = df.collect()[0]
    assert row["frozen"] > 0
    assert row["live"] < row["frozen"] // 10, row
