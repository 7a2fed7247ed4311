"""get_spark's Python worker setup (session.py, _pydaemon.py).

Workers start from `hurricanedb_spark._pydaemon`, so the package must be
on the workers' PYTHONPATH from any working directory, and the lazy
zip-directory invalidation it installs must cost nothing per task while
keeping what PySpark's per-task `importlib.invalidate_caches()` is for:
code shipped after the workers started still imports. The JVM reaches
the workers over Unix sockets in a private directory short enough for
Spark, whatever temporary directory the caller set.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYDAEMON = os.path.join(ROOT, "hurricanedb_spark", "_pydaemon.py")

lazy_zip = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is already lazy on 3.13+"
)


def _run_outside_repo(tmp_path, body: str, **env_extra: str) -> str:
    """Run `body` after `spark = get_spark(...)` in a fresh interpreter
    whose cwd is outside the repo and whose PYTHONPATH is unset; only
    the driver gets the package on sys.path. `env_extra` is added to
    its environment."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        from hurricanedb_spark.session import get_spark
        """
    ) + textwrap.dedent(body)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", HURRICANE_DRIVER_MEM="1g", **env_extra)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", script, ROOT, str(tmp_path)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout


def test_workers_import_package_from_any_cwd(tmp_path):
    """Without the package dir on the workers' PYTHONPATH the daemon
    module itself fails to import, so even a plain rdd.map dies."""
    out = _run_outside_repo(
        tmp_path,
        """
        import os
        import pandas as pd
        from hurricanedb_spark.sources import pinot_segment as ps
        spark = get_spark("outside-repo")
        assert spark.sparkContext.parallelize(range(4), 2).map(
            lambda x: x * 2
        ).collect() == [0, 2, 4, 6]
        df = spark.createDataFrame(
            pd.DataFrame({"k": list(range(20)), "v": [i % 3 for i in range(20)]})
        )
        segs = ps.export_segments(
            df.repartition(2), os.path.join(sys.argv[2], "store"), "t"
        )
        got = sorted(tuple(r) for r in ps.read_segments(spark, segs).collect())
        assert got == [(i, i % 3) for i in range(20)], got
        print("OK", len(segs))
        """,
    )
    assert "OK 2" in out


def test_caller_worker_pythonpath_is_extended(tmp_path):
    """A caller's spark.executorEnv.PYTHONPATH keeps working, and the
    package dir is appended to it rather than dropped."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "hd_caller_mod.py").write_text("VALUE = 7\n")
    out = _run_outside_repo(
        tmp_path,
        """
        import os
        extra = os.path.join(sys.argv[2], "extra")
        spark = get_spark(
            "caller-path", extra_conf={"spark.executorEnv.PYTHONPATH": extra}
        )
        sc = spark.sparkContext
        path = sc.getConf().get("spark.executorEnv.PYTHONPATH")
        assert path == os.pathsep.join([extra, sys.argv[1]]), path

        def probe(_):
            import hd_caller_mod
            import hurricanedb_spark
            return [hd_caller_mod.VALUE]

        assert sc.parallelize([0], 1).mapPartitions(probe).collect() == [7]
        print("OK")
        """,
    )
    assert "OK" in out


def test_unix_sockets_under_a_deep_tmpdir(tmp_path):
    """TMPDIR and java.io.tmpdir deeper than Spark's 61-character socket
    directory cap: the session still runs Python tasks over Unix sockets,
    from a 0700 directory that is gone after the process exits."""
    deep = tmp_path / ("t" * 40) / ("u" * 40)
    deep.mkdir(parents=True)
    out = _run_outside_repo(
        tmp_path,
        """
        import os, stat, tempfile
        deep = os.environ["TMPDIR"]
        assert tempfile.gettempdir() == deep and len(deep) > 61
        spark = get_spark("deep-tmp", extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={deep}"})
        conf = spark.sparkContext.getConf()
        assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
        sock_dir = conf.get("spark.python.unix.domain.socket.dir")
        assert len(sock_dir) <= 61, sock_dir
        assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700

        def double(batches):
            for pdf in batches:
                yield pdf * 2

        df = spark.range(0, 10, 1, 2).mapInPandas(double, "id long")
        assert sorted(r.id for r in df.collect()) == [2 * i for i in range(10)]
        # the accumulator server's and the worker daemon's sockets
        socks = [f for f in os.listdir(sock_dir) if f.endswith(".sock")]
        assert len(socks) >= 2, socks
        print("DIR", sock_dir)
        """,
        TMPDIR=str(deep),
    )
    sock_dir = out.split("DIR ", 1)[1].strip()
    assert not os.path.exists(sock_dir)


@lazy_zip
def test_invalidate_caches_rereads_no_zip_directory(spark):
    """PySpark calls importlib.invalidate_caches() in every task; in a
    worker it must not re-read any zip directory (the stock 3.11/3.12
    zipimporter re-reads pyspark.zip once per importer)."""

    def probe(_):
        import importlib
        import zipimport

        calls = []
        read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        return [(len(zips), len(calls))]

    [(n_zip_importers, n_reads)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert n_zip_importers > 0  # the worker imports pyspark from a zip
    assert n_reads == 0


@lazy_zip
def test_py_file_added_after_first_task_imports(spark, tmp_path):
    """The reason PySpark invalidates per task: a zip shipped with
    sc.addPyFile after the workers started must import in a later task.
    Opening the new zip also exercises the patched zipimporter.__init__."""
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 2).map(lambda x: x + 1).sum() == 10
    archive = tmp_path / "hd_late_dep.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("hd_late_dep_mod.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def probe(_):
        import hd_late_dep_mod

        return [hd_late_dep_mod.VALUE]

    assert sc.parallelize([0, 1], 2).mapPartitions(probe).collect() == [42, 42]


@lazy_zip
def test_rewritten_zip_is_reread_after_invalidation(spark, tmp_path):
    """Invalidation stays real, only later: a zip on sys.path that is
    rewritten in place shows its new modules after invalidate_caches()."""
    archive = str(tmp_path / "hd_rewritten.zip")

    def probe(_):
        import importlib

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("hd_rw_first.py", "VALUE = 1\n")
        sys.path.insert(0, archive)
        try:
            import hd_rw_first

            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("hd_rw_first.py", "VALUE = 1\n")
                z.writestr("hd_rw_second.py", "VALUE = 2\n")
            importlib.invalidate_caches()
            import hd_rw_second

            return [(hd_rw_first.VALUE, hd_rw_second.VALUE)]
        finally:
            sys.path.remove(archive)

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [(1, 2)]


@pytest.mark.parametrize(
    "python, prelude",
    [
        # the real 3.13 zipimport (skipped where no 3.13 is installed)
        ("python3.13", ""),
        # an interpreter whose zipimport lacks the private names
        (sys.executable, "del zipimport._read_directory"),
    ],
    ids=["py313", "private-names-missing"],
)
def test_pydaemon_leaves_zipimport_alone(python, prelude):
    """Where the patch is not needed or cannot apply, the daemon module
    changes nothing in zipimport."""
    exe = shutil.which(python)
    if exe is None:
        pytest.skip(f"{python} not installed")
    script = textwrap.dedent(
        f"""
        import runpy, sys, zipimport  # runpy: _pydaemon's imports preloaded
        {prelude}
        before = dict(vars(zipimport.zipimporter))
        with open(sys.argv[1]) as f:
            code = compile(f.read(), sys.argv[1], "exec")
        ns = {{"__name__": "hd_pydaemon_probe"}}
        exec(code, ns)
        assert ns["install"]() is False
        assert dict(vars(zipimport.zipimporter)) == before
        print("OK")
        """
    )
    out = subprocess.run(
        [exe, "-c", script, PYDAEMON], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr


def test_default_driver_memory_is_half_of_ram_up_to_16g(monkeypatch):
    from hurricanedb_spark import session

    def host(phys_bytes):
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
        return session._default_driver_memory()

    assert host(15 * 2**30) == f"{15 * 512}m"
    assert host(4 * 2**30) == "2048m"
    assert host(32 * 2**30) == "16384m"
    assert host(256 * 2**30) == "16384m"
