"""The worker daemon's zip-importer fix: unchanged archives are not re-read
on ``importlib.invalidate_caches()``, rewritten ones still are."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# run in a subprocess: install() patches zipimport for the whole process
_ARCHIVE_CHECK = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    from kaylee_spark.worker_daemon import install

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting

    def write(path, modules):
        with zipfile.ZipFile(path, "w") as zf:
            for name in modules:
                zf.writestr(f"{name}.py", f"NAME = {name!r}\\n")

    archive = os.path.join(sys.argv[1], "mods.zip")
    write(archive, ["zmod_a"])
    sys.path.insert(0, archive)
    import zmod_a  # puts a zipimporter for the archive in sys.path_importer_cache

    install()
    importlib.invalidate_caches()  # first call after install: takes the stamp
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads, reads

    write(archive, ["zmod_a", "zmod_b"])  # in place: same inode, new size
    importlib.invalidate_caches()
    assert reads.count(archive) == 1, reads
    import zmod_b

    assert zmod_b.NAME == "zmod_b"
    print("ok")
    """
)


def test_install_rereads_only_changed_archives(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _ARCHIVE_CHECK, str(tmp_path)], cwd=ROOT, capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_python_tasks_do_not_reread_pyspark_zip(spark):
    def reads_on_invalidate(_):
        import importlib
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return len(reads)

    counts = spark.sparkContext.parallelize(range(4), 4).map(reads_on_invalidate).collect()
    assert counts == [0, 0, 0, 0]


def test_workers_find_the_daemon_from_any_cwd(tmp_path):
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from kaylee_spark.session import get_spark\n"
        "spark = get_spark('daemon_cwd_check', cpus=1)\n"
        "print(spark.sparkContext.parallelize([1], 1).map(lambda x: x + 1).collect())\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[2]"
