"""The Python worker daemon (bharatmlstack_spark/worker_daemon.py): an
unchanged zip archive on the import path is not re-read on every
``importlib.invalidate_caches()``, a rewritten one is, and sessions built
by get_spark start the daemon from any working directory."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from bharatmlstack_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    assert importlib.import_module("wd_mod_a").X == 1
    importlib.invalidate_caches()  # first call reads: no stamp recorded yet
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    # a rewritten archive (new size and mtime) is read again, once, and
    # its new module imports
    _write_zip(archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("wd_mod_b").Y == 2
    for m in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(m, None)


def test_pandas_udf_runs_from_outside_the_checkout(tmp_path):
    """A session started by get_spark in a directory that does not hold
    the package (the package reached only through sys.path) still runs a
    pandas UDF, in a worker forked by this engine's daemon."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from bharatmlstack_spark import get_spark

        spark = get_spark("outside", master="local[1]")

        @F.pandas_udf("string")
        def daemon_of(s: pd.Series) -> pd.Series:
            import zipimport
            main = sys.modules["__main__"]
            patched = zipimport.zipimporter.invalidate_caches is main.invalidate_caches
            return s.map(lambda _: f"{{main.__spec__.name}} {{patched}}")

        print("DAEMON", spark.range(3).select(daemon_of("id")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "DAEMON bharatmlstack_spark.worker_daemon True" in out.stdout, out.stderr[-3000:]
