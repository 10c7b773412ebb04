"""The driver JVM's class-data archive: its key, its guards, and its life
cycle across cold CLI runs (``session._start``)."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest
from pyspark.errors import PySparkRuntimeError

from etl_jetro_spark import session as S
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA_ENV = {k: os.environ[k] for k in ("JAVA_HOME", "PATH") if k in os.environ}


def _spark_home(root, *jars: str) -> str:
    home = root / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# a template\n")
    for name in jars:
        (home / "jars" / name).write_bytes(name.encode())
    return str(home)


def test_key_holds_no_per_run_value_and_follows_the_jars(tmp_path):
    home = _spark_home(tmp_path, "spark-core.jar")
    conf = {"spark.driver.memory": "4g"}

    def key(tool_options: str, memory: str = "4g") -> str:
        env = {**JAVA_ENV, "SPARK_HOME": home, "JAVA_TOOL_OPTIONS": tool_options}
        return S._cds_key(env, {**conf, "spark.driver.memory": memory})

    first = key("-XX:-UsePerfData -Djava.io.tmpdir=/work/run-1/tmp")
    assert key("-XX:-UsePerfData -Djava.io.tmpdir=/work/run-2/tmp") == first
    assert key("-XX:-UsePerfData -Djava.io.tmpdir=/work/run-1/tmp", "8g") != first
    with open(os.path.join(home, "jars", "spark-sql.jar"), "wb") as fh:
        fh.write(b"more classes")
    assert key("-XX:-UsePerfData -Djava.io.tmpdir=/work/run-1/tmp") != first


def test_live_conf_file_turns_the_archive_off(tmp_path, monkeypatch):
    """A user's spark-defaults.conf must stay on the class path, so the JVM
    starts as it would without the archive, and the state names the file."""
    home = _spark_home(tmp_path, "spark-core.jar")
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.executor.cores 2\n")
    (conf_dir / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", home)
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setattr(S, "CDS_DIR", str(tmp_path / "cache"))
    got = []
    spark, state = S._start(got.append, {"spark.driver.memory": "4g"})
    assert state.startswith("off: ") and "spark-defaults.conf" in state
    assert "template" not in state
    assert got == [{"spark.driver.memory": "4g"}]  # no archive option added
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)
    assert not (tmp_path / "cache").exists()


@pytest.mark.parametrize("jvm_starts", [True, False], ids=["starts", "exits"])
@pytest.mark.parametrize("conf_dir", [None, "templates"])
def test_start_leaves_environ_as_it_found_it(spark, tmp_path, monkeypatch, conf_dir, jvm_starts):
    """``SPARK_CONF_DIR`` points at the cache's empty conf dir only while
    the JVM starts, whether or not it starts; a caller's JVM options are
    kept. ``build`` stands in for the launch (the test JVM is running)."""
    home = _spark_home(tmp_path, "spark-core.jar")
    monkeypatch.setenv("SPARK_HOME", home)
    if conf_dir:
        monkeypatch.setenv("SPARK_CONF_DIR", os.path.join(home, "conf"))
    else:
        monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    cache = tmp_path / "cache"
    monkeypatch.setattr(S, "CDS_DIR", str(cache))
    before = dict(os.environ)
    calls = []

    def build(conf):
        calls.append((os.environ.get("SPARK_CONF_DIR"), conf[S._JAVA_OPTS]))
        if len(calls) == 1 and not jvm_starts:
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return spark

    _, state = S._start(build, {S._JAVA_OPTS: "-Dcaller=1"})
    assert dict(os.environ) == before
    assert calls[0][0] == str(cache / "conf")
    assert calls[0][1].startswith("-Dcaller=1 ") and "-XX:ArchiveClassesAtExit=" in calls[0][1]
    if jvm_starts:
        assert state == "dump" and len(calls) == 1
    else:
        assert state.startswith("off: the JVM exited at start recording classes")
        assert calls[1] == (before.get("SPARK_CONF_DIR"), "-Dcaller=1")


# --------------------------------------------------------------------------
# cold CLI runs, each its own process, in a copy of the package whose cache
# starts empty
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def checkout(tmp_path_factory):
    import pandas as pd

    from etl_jetro_spark.plans import fixtures as FX

    root = tmp_path_factory.mktemp("checkout")
    shutil.copytree(
        os.path.join(REPO, "etl_jetro_spark"), root / "etl_jetro_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (root / "drop").mkdir()
    FX.acme_grid(SF_DIR).to_csv(root / "drop" / "acme il 0106.csv", index=False, header=False)
    return root


def _cli_acme(root, out: str) -> dict:
    """One cold ``python -m etl_jetro_spark run acme`` in ``root``. Its
    output pipes close when the driver JVM exits, after any dump."""
    env = dict(os.environ, PYTHONPATH=str(root))
    p = subprocess.run(
        [sys.executable, "-m", "etl_jetro_spark", "run", "acme", str(root / "drop"),
         str(root / out), "--date", "2026-01-06"],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _artifacts(out) -> dict[str, object]:
    """Every file's bytes; a workbook's by member (its zip entries carry
    the time they were written)."""
    got = {}
    for path in sorted(glob.glob(os.path.join(out, "**", "*"), recursive=True)):
        rel = os.path.relpath(path, out)
        if path.endswith(".xlsx"):
            with zipfile.ZipFile(path) as zf:
                got[rel] = {n: zf.read(n) for n in zf.namelist()}
        elif os.path.isfile(path):
            with open(path, "rb") as fh:
                got[rel] = fh.read()
    return got


@pytest.fixture(scope="module")
def cold_runs(checkout):
    return _cli_acme(checkout, "out1"), _cli_acme(checkout, "out2")


def test_second_cold_run_maps_the_first_runs_archive(checkout, cold_runs):
    first, second = cold_runs
    assert first["cds"] == "dump"
    assert second["cds"] == "on"
    assert _artifacts(checkout / "out1") == _artifacts(checkout / "out2")
    # the dump was published: no private .part or .pid is left
    left = os.listdir(checkout / ".jvm_cds")
    assert sorted(n.rsplit(".", 1)[-1] for n in left) == ["conf", "jsa"], left


def test_truncated_archive_is_reported_and_dropped(checkout, cold_runs):
    """JDK 17 crashes mapping a truncated archive: the run still succeeds,
    says why the archive was not used, and deletes it."""
    (archive,) = glob.glob(str(checkout / ".jvm_cds" / "*.jsa"))
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as fh:
        fh.truncate(os.path.getsize(archive) // 2)
    third = _cli_acme(checkout, "out3")
    state = third["cds"]
    assert state.startswith("off: the JVM ") and archive in state, state
    assert not state.endswith("no reason given"), state
    assert not os.path.exists(archive)
    assert _artifacts(checkout / "out3") == _artifacts(checkout / "out1")
