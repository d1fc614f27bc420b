"""Session defaults that depend on the host."""

from jvector_spark.session import default_cpus, default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_driver_memory_sized_from_host(tmp_path):
    """40% of MemTotal, capped at 16g; 16g when the host reports nothing."""
    gib = 1 << 20  # kB per GiB
    assert default_driver_memory(_meminfo(tmp_path, 15 * gib)) == "6144m"
    assert default_driver_memory(_meminfo(tmp_path, 40 * gib)) == "16384m"
    assert default_driver_memory(_meminfo(tmp_path, 256 * gib)) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16384m"
    (tmp_path / "garbled").write_text("MemTotal: lots\n")
    assert default_driver_memory(str(tmp_path / "garbled")) == "16384m"


def test_default_cpus_follow_the_affinity_mask(monkeypatch):
    """One task slot per CPU the process may run on; ``os.cpu_count()``
    where the platform has no affinity call."""
    import os

    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5}, raising=False)
    assert default_cpus() == 3
    monkeypatch.delattr(os, "sched_getaffinity")
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert default_cpus() == 6


# --- the worker daemon (jvector_spark._daemon) ------------------------------


def test_daemon_invalidate_caches_semantics(tmp_path, monkeypatch):
    """Everything Python 3.11's ``importlib.invalidate_caches`` does, except
    asking a ``zipimporter`` to re-read its archive directory."""
    import importlib
    import importlib.util
    import sys
    import zipfile
    import zipimport
    from importlib import _bootstrap_external

    from jvector_spark._daemon import invalidate_caches_keeping_zip_directories

    mod_dir = tmp_path / "mods"
    mod_dir.mkdir()
    monkeypatch.syspath_prepend(str(mod_dir))
    assert importlib.util.find_spec("jvs_daemon_late_mod") is None
    assert str(mod_dir) in sys.path_importer_cache  # its FileFinder is cached
    (mod_dir / "jvs_daemon_late_mod.py").write_text("VALUE = 41\n")

    zpath = tmp_path / "lib.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("jvs_daemon_zipped.py", "VALUE = 1\n")
    zip_calls = []
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", lambda self: zip_calls.append(self)
    )
    monkeypatch.setitem(
        sys.path_importer_cache, str(zpath), zipimport.zipimporter(str(zpath))
    )
    monkeypatch.setitem(sys.path_importer_cache, str(tmp_path / "gone"), None)
    monkeypatch.setitem(sys.path_importer_cache, "relative/entry", object())

    class MetaSpy:
        calls = 0

        def find_spec(self, *args):
            return None

        def invalidate_caches(self):
            MetaSpy.calls += 1

    monkeypatch.setattr(sys, "meta_path", [MetaSpy(), *sys.meta_path])
    monkeypatch.delitem(sys.modules, "jvs_daemon_late_mod", raising=False)
    epoch = _bootstrap_external._NamespacePath._epoch

    invalidate_caches_keeping_zip_directories()

    assert MetaSpy.calls == 1
    assert str(tmp_path / "gone") not in sys.path_importer_cache
    assert "relative/entry" not in sys.path_importer_cache
    assert str(zpath) in sys.path_importer_cache
    assert zip_calls == []
    assert _bootstrap_external._NamespacePath._epoch == epoch + 1
    assert importlib.import_module("jvs_daemon_late_mod").VALUE == 41


def test_spark_tasks_run_the_daemon_invalidate_caches(spark):
    """The worker runs as ``python -m jvector_spark._daemon``, so the
    function's ``__module__`` reads ``__main__``: compare the qualname."""
    from jvector_spark._daemon import invalidate_caches_keeping_zip_directories

    def probe(_):  # defined here: the workers cannot import this test module
        import importlib
        import time

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        return importlib.invalidate_caches.__qualname__, time.perf_counter() - t0

    out = spark.sparkContext.parallelize([0, 1], 2).map(probe)
    for qualname, secs in out.collect():
        assert qualname == invalidate_caches_keeping_zip_directories.__qualname__
        assert secs < 0.010, secs


def test_spark_task_sees_zip_added_after_first_task(spark, tmp_path):
    import uuid
    import zipfile

    sc = spark.sparkContext
    name = f"jvs_late_zip_{uuid.uuid4().hex}"
    assert sc.parallelize([0], 1).map(lambda x: x + 1).collect() == [1]
    zpath = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 7\n")
    sc.addPyFile(str(zpath))

    def load(_):
        import importlib

        return importlib.import_module(name).VALUE

    assert sc.parallelize([0], 1).map(load).collect() == [7]


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from jvector_spark.session import get_spark

spark = get_spark(
    master="local[2]",
    extra_conf={{"spark.executorEnv.PYTHONPATH": {extra!r}}},
)
def plain(x):
    import jvs_caller_path_mod
    return x + jvs_caller_path_mod.VALUE
assert spark.sparkContext.parallelize([1, 2], 2).map(plain).collect() == [4, 5]

def frames(it):
    import jvector_spark
    for pdf in it:
        yield pdf.assign(pkg=jvector_spark.__version__)
rows = spark.range(3).mapInPandas(frames, "id long, pkg string").collect()
assert sorted(r.id for r in rows) == [0, 1, 2], rows
spark.stop()
print("FOREIGN_CWD_OK")
"""


def test_get_spark_workers_import_engine_from_foreign_cwd(tmp_path):
    """No cwd or PYTHONPATH route to the package: the daemon module still
    imports (``get_spark`` sets ``spark.executorEnv.PYTHONPATH``), and a
    caller's own ``spark.executorEnv.PYTHONPATH`` is kept beside it."""
    import os
    import pathlib
    import subprocess
    import sys
    import tempfile

    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    extra = tmp_path / "caller_path"
    extra.mkdir()
    (extra / "jvs_caller_path_mod.py").write_text("VALUE = 3\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["JVS_DRIVER_MEMORY"] = "1g"
    script = _FOREIGN_CWD_SCRIPT.format(repo=repo, extra=str(extra))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tempfile.mkdtemp(dir=tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "FOREIGN_CWD_OK" in proc.stdout, proc.stderr[-4000:]
