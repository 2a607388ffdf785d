"""Where the kernel jar comes from.

tools/build_java_udfs.build(): the tracked jar is used as is when it
cannot be rebuilt (no javac, or a failed compile; a checkout can leave
it older than the sources), and with no jar that is an error, never a
silent None. session._ensure_udf_jar builds only from a source
checkout; a deployed package leaves the jar to ``--jars``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import build_java_udfs  # noqa: E402

from name_matcher_spark import session  # noqa: E402


@pytest.fixture
def javaudf(tmp_path, monkeypatch):
    monkeypatch.setattr(build_java_udfs, "PKG", tmp_path)
    monkeypatch.setattr(build_java_udfs, "JAR", tmp_path / "nms-udfs.jar")
    (tmp_path / "NmsKernel.java").write_text("class NmsKernel {}\n")
    return tmp_path


@pytest.fixture
def no_javac(javaudf, monkeypatch):
    monkeypatch.setattr(build_java_udfs.shutil, "which", lambda name: None)
    return javaudf


@pytest.fixture
def failing_javac(javaudf, monkeypatch):
    monkeypatch.setattr(build_java_udfs.shutil, "which", lambda name: f"/bin/{name}")

    def fail(cmd, **kwargs):
        raise subprocess.CalledProcessError(1, cmd, stderr="error: boom")

    monkeypatch.setattr(build_java_udfs.subprocess, "run", fail)
    return javaudf


def _stale_jar(d: Path) -> Path:
    jar = d / "nms-udfs.jar"
    jar.write_bytes(b"PK")
    src = (d / "NmsKernel.java").stat().st_mtime
    os.utime(jar, (src - 60, src - 60))
    return jar


def test_stale_jar_returned_without_javac(no_javac):
    jar = _stale_jar(no_javac)
    assert build_java_udfs.build() == jar


def test_missing_jar_without_javac_raises(no_javac):
    with pytest.raises(RuntimeError, match="javac"):
        build_java_udfs.build()


def test_failed_rebuild_keeps_existing_jar(failing_javac):
    jar = _stale_jar(failing_javac)
    with pytest.warns(UserWarning, match="boom"):
        assert build_java_udfs.build() == jar
    assert jar.read_bytes() == b"PK"


def test_failed_build_without_jar_raises(failing_javac):
    with pytest.raises(subprocess.CalledProcessError):
        build_java_udfs.build()
    assert not (failing_javac / "nms-udfs.jar").exists()


def test_deployed_package_leaves_jar_to_jars_option(tmp_path, monkeypatch):
    # A package loaded from a --py-files zip has no tools/ beside it.
    monkeypatch.setattr(session, "_PKG_PARENT", str(tmp_path / "nms.zip"))
    assert session._ensure_udf_jar() is None


def test_source_checkout_builds_jar(tmp_path, monkeypatch):
    monkeypatch.setattr(build_java_udfs, "build", lambda: tmp_path / "built.jar")
    assert session._ensure_udf_jar() == str(tmp_path / "built.jar")
