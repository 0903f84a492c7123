"""Session factory and the engine's Python worker daemon (session.py,
worker_daemon.py)."""

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from maxx_spark.worker_daemon import stat_checked_invalidate_caches

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_zip_importer_rereads_only_a_changed_archive(tmp_path):
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 1\n")
    imp = zipimport.zipimporter(str(archive))
    assert _load(imp, "zmod_a").VALUE == 1

    # the first call always re-reads; an unchanged archive is not re-read
    built = imp._files
    stat_checked_invalidate_caches(imp)
    assert imp._files is not built
    read = imp._files
    stat_checked_invalidate_caches(imp)
    assert imp._files is read

    # a rewritten archive is re-read and its new module becomes importable
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 1\n")
        z.writestr("zmod_b.py", "VALUE = 2\n")
    assert imp.find_spec("zmod_b") is None
    stat_checked_invalidate_caches(imp)
    assert imp._files is not read
    assert _load(imp, "zmod_b").VALUE == 2


def test_daemon_install_reads_archives_before_fork(tmp_path):
    """install() runs in the daemon before it forks: every cached zip
    importer has read its archive once, so a worker's first
    importlib.invalidate_caches() re-reads nothing unchanged. Run in a
    subprocess so the patch stays out of this process."""
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_c.py", "VALUE = 3\n")
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipimport
        sys.path.insert(0, {ROOT!r})
        sys.path.insert(0, {str(archive)!r})
        import zmod_c
        from maxx_spark.worker_daemon import install

        imp = sys.path_importer_cache[{str(archive)!r}]
        assert isinstance(imp, zipimport.zipimporter)
        built = imp._files
        install()
        read = imp._files
        assert read is not built
        importlib.invalidate_caches()
        assert imp._files is read
        print("ok")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip() == "ok"


def test_workers_fork_from_engine_daemon(spark):
    def qualname(it):
        import zipimport

        import pandas as pd

        for b in it:
            yield pd.DataFrame({"q": [zipimport.zipimporter.invalidate_caches.__qualname__] * len(b)})

    got = {r["q"] for r in spark.range(8).repartition(4).mapInPandas(qualname, "q string").collect()}
    assert got == {stat_checked_invalidate_caches.__qualname__}


def test_state_partitions_default_to_the_cores(spark):
    """The test session (local[4]) passes no partition count: each stateful
    micro-batch runs one task per core, in one wave."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_python_stage_runs_outside_the_repo(tmp_path):
    """Workers import the daemon (and the engine) from any working
    directory, without PYTHONPATH."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from maxx_spark.extract import extract_code_units
        from maxx_spark.gen import generate_pages_rows
        from maxx_spark.schema import PAGES
        from maxx_spark.session import get_spark

        spark = get_spark("outside-repo", master="local[2]")
        try:
            # one shuffle partition per core; an extra_conf value wins
            assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
            again = get_spark("outside-repo", master="local[2]",
                              extra_conf={{"spark.sql.shuffle.partitions": "3"}})
            assert again.conf.get("spark.sql.shuffle.partitions") == "3"
            pages = spark.createDataFrame(generate_pages_rows(n_projects=1, n_filler=0)[:2], PAGES)
            assert pages.count() == 2
            print("units", extract_code_units(pages).count())
        finally:
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_WARMUP="0", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert int(proc.stdout.split("units ")[1].split()[0]) > 0
