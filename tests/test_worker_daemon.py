"""Python workers import pyspark from its installed package: the daemon's
path rule, what a worker really imports, and when the session names the
daemon."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

from bmspark import session, worker_daemon

ROOT = Path(__file__).resolve().parent.parent
DAEMON_CONF = "spark.python.daemon.module"
VERSION_PY = "__version__: str = '{}'\n"


def _zip(path: Path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)
    return str(path)


def _site(path: Path, version: str | None) -> str:
    if version is not None:
        (path / "pyspark").mkdir(parents=True)
        (path / "pyspark" / "__init__.py").write_text("")
        (path / "pyspark" / "version.py").write_text(VERSION_PY.format(version))
    path.mkdir(parents=True, exist_ok=True)
    return str(path)


def test_path_rule_drops_spark_archives_only_on_a_version_match(tmp_path):
    archives = [
        _zip(tmp_path / "lib" / "pyspark.zip",
             {"pyspark/version.py": VERSION_PY.format("4.1.2")}),
        _zip(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar", {"org/x.class": ""}),
    ]
    jar_named_dir = tmp_path / "spark-core_2.13-4.1.2.jar"
    jar_named_dir.mkdir()
    user_zip = _zip(tmp_path / "user" / "deps.zip", {"dep/__init__.py": ""})
    always = ["", str(jar_named_dir), user_zip, str(tmp_path / "missing.zip")]

    def path(site):
        return [always[0], *archives, *always[1:], site]

    match = path(_site(tmp_path / "match", "4.1.2"))
    assert worker_daemon.worker_path(match) == [*always, match[-1]]
    for site in (_site(tmp_path / "older", "4.0.0"), _site(tmp_path / "absent", None)):
        assert worker_daemon.worker_path(path(site)) == path(site)
    assert worker_daemon.worker_path([*always, match[-1]]) == [*always, match[-1]]


def test_python_workers_import_the_installed_pyspark(spark):
    def probe(_):
        import zipimport

        import pyspark

        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        yield pyspark.__file__, len(zips)

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert len(got) == 1
    pyspark_file, n_zipimporters = got[0]
    assert os.path.isfile(pyspark_file), pyspark_file
    assert n_zipimporters == 0


def _daemon_conf(sys_path: str, cwd: Path) -> str:
    """The daemon conf a fresh interpreter's session module sets when
    bmspark is imported from ``sys_path``, run in ``cwd`` with no
    PYTHONPATH."""
    code = (f"import sys; sys.path.insert(0, {sys_path!r}); from bmspark import session; "
            f"print(session._BASE_CONFS.get({DAEMON_CONF!r}))")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                         capture_output=True, text=True, check=True)
    return out.stdout.strip()


def test_session_names_the_daemon_only_for_a_bmspark_on_disk(tmp_path):
    assert session._BASE_CONFS[DAEMON_CONF] == "bmspark.worker_daemon"
    assert _daemon_conf(str(ROOT), ROOT) == "bmspark.worker_daemon"
    # on disk but not where a worker started in this cwd looks for it
    assert _daemon_conf(str(ROOT), tmp_path) == "None"
    bundle = tmp_path / "bmspark.zip"
    with zipfile.ZipFile(bundle, "w") as z:
        for p in sorted((ROOT / "bmspark").rglob("*.py")):
            z.write(p, p.relative_to(ROOT).as_posix())
    assert _daemon_conf(str(bundle), tmp_path) == "None"
    assert _daemon_conf(str(bundle), ROOT) == "None"
