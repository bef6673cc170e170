"""The driver JVM's class-data-sharing archive (``session.get_spark``).

Every JVM here runs in a subprocess, with ``session.CDS_DIR`` pointed at
the test's own directory, so the suite's session and the checkout's
archive are untouched."""

from __future__ import annotations

import os
import subprocess
import sys

from halyard_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import os, sys
sys.path.insert(0, {root!r})
from halyard_spark import session
session.CDS_DIR = {cache!r}
spark = session.get_spark(cpus=1, driver_memory="1g", extra_conf={{
    "spark.driver.extraJavaOptions": "-Xlog:class+load:file={log}",
    "spark.ui.showConsoleProgress": "false",
}})
conf = spark.sparkContext.getConf()
print("options", conf.get("spark.driver.extraJavaOptions"))
print("marker", conf.get("spark.halyard.test.marker", "unset"))
print("conf_dir", os.environ.get("SPARK_CONF_DIR", "unset"))
{tail}
print("rows", spark.range(100).count())
"""


def start_jvm(tmp_path, name: str, tail: str = "", env: dict | None = None) -> tuple[str, str]:
    """Run ``SCRIPT`` in a fresh Python process: (its stdout, the text of
    its driver JVM's ``-Xlog:class+load`` log)."""
    log = tmp_path / f"{name}.classes.log"
    script = SCRIPT.format(root=ROOT, cache=str(tmp_path / "cache"), log=log, tail=tail)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600,
        env={**os.environ, **(env or {})}, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout, log.read_text() if log.exists() else ""


def loaded_from(log: str) -> dict[str, int]:
    """Class-load counts by source: the dynamic archive, the JDK's base
    archive, everything else."""
    top = log.count("source: shared objects file (top)")
    base = log.count("source: shared objects file\n")
    return {"top": top, "base": base, "total": log.count("\n")}


def cache_files(tmp_path) -> list[str]:
    return sorted(n for n in os.listdir(tmp_path / "cache") if n != "conf")


def test_second_jvm_maps_the_archive(tmp_path):
    """The first JVM dumps the archive at exit (its [cds] log off stdout,
    its last line still the script's), and publishes it only once the
    JVM is gone; the second maps it and loads Spark's classes from it."""
    out, log = start_jvm(tmp_path, "dump")
    assert out.splitlines()[-1] == "rows 100"
    assert "[cds]" not in out
    assert "-XX:ArchiveClassesAtExit=" in out
    assert loaded_from(log)["top"] == 0
    [jsa] = cache_files(tmp_path)
    assert jsa.endswith(".jsa")

    out, log = start_jvm(tmp_path, "map")
    assert f"-XX:SharedArchiveFile={tmp_path / 'cache' / jsa}" in out
    counts = loaded_from(log)
    assert counts["top"] >= 5000, counts
    assert cache_files(tmp_path) == [jsa]


def test_stale_part_is_removed_and_a_failed_dump_publishes_nothing(tmp_path):
    """A part file left by a dead process is deleted before the JVM
    starts, never mapped (JDK 17 crashes on a truncated archive); a
    dumping JVM that exits non-zero leaves no archive behind."""
    dead = subprocess.Popen(["true"])
    dead.wait()
    key = session.archive_key(session.jdk_id(), os.path.join(session._find_spark_home(), "jars"))
    (tmp_path / "cache").mkdir()
    stale = tmp_path / "cache" / f"{key}.{dead.pid}.part"
    stale.write_bytes(b"\0" * 4096)
    tail = (
        "try:\n"
        "    spark.sparkContext._jvm.java.lang.System.exit(3)\n"
        "except Exception:\n"
        "    pass\n"
        "sys.exit(0)"
    )
    out, log = start_jvm(tmp_path, "failed", tail=tail)
    assert "-XX:ArchiveClassesAtExit=" in out
    assert loaded_from(log)["top"] == 0
    assert cache_files(tmp_path) == []


def test_real_conf_dir_keeps_its_settings(tmp_path):
    """A SPARK_HOME whose conf dir holds a real file: no CDS flags, the
    file's settings apply, and SPARK_CONF_DIR is left unset."""
    home = tmp_path / "spark_home"
    home.mkdir()
    real = session._find_spark_home()
    for name in ("bin", "jars", "python"):
        if os.path.exists(os.path.join(real, name)):
            os.symlink(os.path.join(real, name), home / name)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf").write_text("spark.halyard.test.marker from-conf-dir\n")
    out, _ = start_jvm(tmp_path, "conf", env={"SPARK_HOME": str(home)})
    assert "marker from-conf-dir" in out
    assert "conf_dir unset" in out
    assert "SharedArchiveFile" not in out and "ArchiveClassesAtExit" not in out
    assert not (tmp_path / "cache").exists() or cache_files(tmp_path) == []


def test_caller_cds_flags_keep_the_engines_out(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path))
    monkeypatch.setattr(session, "_DUMPS", [])  # the suite's own JVM may be dumping
    home = session._find_spark_home()
    for caller in ("-Xshare:off", "-XX:SharedArchiveFile=/x.jsa", "-XX:ArchiveClassesAtExit=/y.jsa"):
        assert session._cds_plan(home, caller, "") == ("", None)
    assert session._cds_plan(home, "-Xmx1g", "")[0].startswith("-XX:ArchiveClassesAtExit=")


def test_archive_key_tracks_jars_and_jdk(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a" * 10)
    key = session.archive_key("jdk-a", str(jars))
    assert session.archive_key("jdk-a", str(jars)) == key
    assert session.archive_key("jdk-b", str(jars)) != key
    assert session.archive_key("jdk-a", str(jars), "/extra.jar") != key
    (jars / "a.jar").write_bytes(b"a" * 11)
    resized = session.archive_key("jdk-a", str(jars))
    assert resized != key
    (jars / "b.jar").write_bytes(b"b")
    assert session.archive_key("jdk-a", str(jars)) not in (key, resized)

    homes = []
    for release in ("JAVA_VERSION=17.0.1", "JAVA_VERSION=17.0.2"):
        home = tmp_path / release
        (home / "lib" / "server").mkdir(parents=True)
        (home / "release").write_text(release)
        (home / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
        homes.append(session.jdk_id(str(home)))
    assert None not in homes and homes[0] != homes[1]
    assert session.jdk_id(str(tmp_path / "missing")) is None


def test_driver_java_options_put_cds_before_the_callers():
    cds = "-XX:SharedArchiveFile=/a.jsa " + session.CDS_LOG
    caller = "-Xshare:off -XX:Tier4InvocationThreshold=7"
    merged = session.driver_java_options(caller, cds)
    assert merged.endswith(" " + caller)
    assert merged.index("-XX:SharedArchiveFile=/a.jsa") < merged.index("-Xshare:off")
    assert session.driver_java_options(None, cds).endswith(cds)
