"""The driver JVM's class-data-sharing archive (``session._class_archive``):
where it lives, what keys it, when it is left out, and one real
record-then-map cycle in two fresh processes. The session's plain
JVM case mapping: what ``lower``/``upper`` return, and that no JVM
initializes ICU's case-mapping class. And its buffer sizes: 1 MB pages
and broadcast blocks in 4 MB G1 regions, each overridable by the
caller."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from big_data_project_datapipeline_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake Spark home (one jar, a templates-only conf dir), a fake
    ``java`` and an empty cache dir, with no classpath variable set."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for k in session._CLASSPATH_ENV:
        monkeypatch.delenv(k, raising=False)
    return home


def test_archive_key_follows_the_jars_and_the_java_binary(install, tmp_path, monkeypatch):
    jar = install / "jars" / "spark-core.jar"
    first = session._class_archive().path
    assert session._class_archive().path == first
    jar.write_bytes(b"jar, rebuilt")
    resized = session._class_archive().path
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = session._class_archive().path
    jdk2 = tmp_path / "jdk2" / "bin" / "java"
    jdk2.parent.mkdir(parents=True)
    jdk2.write_bytes(b"java")
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk2"))
    other_java = session._class_archive().path
    assert len({first, resized, touched, other_java}) == 4


def test_templates_only_conf_records_then_maps_with_an_empty_conf(install, tmp_path):
    cache = tmp_path / "cache" / "spark-graft" / "cds"
    rec = session._class_archive()
    assert rec.conf_dir == str(cache / "conf")
    assert os.listdir(rec.conf_dir) == []
    assert rec.recording == rec.path.removesuffix(".jsa") + f".{os.getpid()}.tmp"
    assert rec.java_options.startswith(f"-XX:ArchiveClassesAtExit={rec.recording} ")
    with open(rec.path, "wb") as fh:
        fh.write(b"archive")
    mapped = session._class_archive()
    assert mapped.recording is None
    assert mapped.java_options.startswith(f"-XX:SharedArchiveFile={rec.path} ")


def test_dumps_of_dead_processes_are_swept(install, tmp_path):
    rec = session._class_archive()
    cache = os.path.dirname(rec.path)
    dead = os.path.join(cache, "0123456789abcdef.4194305.tmp")  # above pid_max
    live = os.path.join(cache, f"0123456789abcdef.{os.getppid()}.tmp")
    for p in (dead, live):
        open(p, "wb").close()
    session._class_archive()
    assert not os.path.exists(dead)
    assert os.path.exists(live)


def test_user_conf_gets_no_archive(install, tmp_path, monkeypatch):
    (install / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert session._class_archive() is None
    (install / "conf" / "spark-defaults.conf").unlink()
    assert session._class_archive() is not None
    monkeypatch.setenv("SPARK_CONF_DIR", str(install / "conf"))
    assert session._class_archive() is None


def test_unwritable_cache_gets_no_archive(install, tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert session._class_archive() is None


_PROBE = r"""
import sys
from big_data_project_datapipeline_spark.session import (
    class_archive, get_spark, local_frame,
)

spark = get_spark(
    master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.memory": "512m",
                "spark.driver.extraJavaOptions":
                    f"-Dgraft.probe=1 -Xlog:class+init=info:file={sys.argv[1]}"},
)
(row,) = local_frame(spark, [("ÉCOLE straße",)], "s string").selectExpr(
    "lower(s) AS lo", "upper(s) AS up"
).collect()
print("CASE", row.lo == "école straße" and row.up == "ÉCOLE STRASSE")
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/cmdline", "rb") as fh:
    args = fh.read().decode().split("\0")
with open(f"/proc/{pid}/maps") as fh:
    mapped = {line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")}
print("STATE", class_archive(spark))
print("PROBE", "-Dgraft.probe=1" in args)
print("MAPPED", *sorted(mapped))
"""


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="reads /proc")
def test_first_jvm_records_the_archive_and_the_next_maps_it(tmp_path):
    env = {k: v for k, v in os.environ.items() if k not in session._CLASSPATH_ENV}
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    cache = tmp_path / "cache" / "spark-graft" / "cds"

    def run(init_log) -> dict[str, list[str]]:
        # the launcher splits the option string on whitespace
        assert not any(c.isspace() for c in str(init_log))
        p = subprocess.run(
            [sys.executable, "-c", _PROBE, str(init_log)], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=300,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        for out in (p.stdout, p.stderr):
            assert "[cds" not in out and "shared archive" not in out.lower(), out
        return {
            line.split()[0]: line.split()[1:]
            for line in p.stdout.splitlines() if line.split()
        }

    first = run(tmp_path / "init-first.log")
    assert first["STATE"] == ["recording"]
    assert first["PROBE"] == ["True"]
    assert first["CASE"] == ["True"]
    archives = sorted(n for n in os.listdir(cache) if n != "conf")
    assert len(archives) == 1 and archives[0].endswith(".jsa"), archives
    archive = str(cache / archives[0])
    assert os.path.getsize(archive) > 0

    second = run(tmp_path / "init-second.log")
    assert second["STATE"] == ["mapped"]
    assert second["PROBE"] == ["True"]
    assert second["CASE"] == ["True"]
    assert archive in second["MAPPED"]
    assert sorted(os.listdir(cache)) == sorted(["conf", archives[0]])
    # the case mapping ran in a JVM that logged its class initialization
    # and never built ICU's title-case table
    init = (tmp_path / "init-second.log").read_text()
    assert "Initializing 'org/apache/spark/unsafe/types/UTF8String'" in init
    icu = "Initializing 'org/apache/spark/sql/catalyst/util/CollationAwareUTF8String'"
    assert icu not in init


_CASES = [
    "Gas", "ÉCOLE Ünïcödé", "straße", "ΑΣ", "ΟΔΟΣ Β", "İstanbul", "Iİıi",
    "ǅungla", "ﬁx", "ŉ", "ΐ", "Привет МИР", "日本語 ABC", "Ⅻ", "Ꭰ", "ǰ", "ﬀ",
]


def test_lower_and_upper_match_python_under_plain_jvm_case_mapping(spark):
    """Final sigma, ß, dotted and dotless i, ligatures and titlecase
    digraphs map as Python's ``str.lower``/``str.upper`` do."""
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    rows = session.local_frame(
        spark, [(i, s) for i, s in enumerate(_CASES)], "i int, s string"
    ).selectExpr("i", "lower(s) AS lo", "upper(s) AS up").orderBy("i").collect()
    assert [(r.lo, r.up) for r in rows] == [(s.lower(), s.upper()) for s in _CASES]


def _region_bytes(spark) -> int:
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return int(bean.getVMOption("G1HeapRegionSize").getValue())


def test_pages_and_broadcast_blocks_stay_below_half_a_g1_region(spark):
    env = spark._jvm.org.apache.spark.SparkEnv.get()
    assert env.memoryManager().pageSizeBytes() == 1 << 20
    assert spark.conf.get("spark.broadcast.blockSize") == "1m"
    assert _region_bytes(spark) == 4 << 20


def test_region_flag_is_passed_when_the_archive_is_skipped(install, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert session._class_archive() is None
    assert session._java_options(None, None) == session._G1_REGION
    mine = "-XX:G1HeapRegionSize=8m -Dx=1"
    assert session._java_options(None, mine) == f"{session._G1_REGION} {mine}"
    monkeypatch.delenv("SPARK_CONF_DIR")
    archive = session._class_archive()
    assert session._java_options(archive, mine).split() == [
        session._G1_REGION, *archive.java_options.split(), *mine.split()
    ]


_OVERRIDE_PROBE = r"""
from big_data_project_datapipeline_spark.session import get_spark

spark = get_spark(
    master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.memory": "512m",
                "spark.buffer.pageSize": "2m",
                "spark.broadcast.blockSize": "2m",
                "spark.driver.extraJavaOptions": "-XX:G1HeapRegionSize=8m"},
)
jvm = spark._jvm
env = jvm.org.apache.spark.SparkEnv.get()
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/cmdline", "rb") as fh:
    args = fh.read().decode().split("\0")
print("PAGE", env.memoryManager().pageSizeBytes())
print("BLOCK", spark.conf.get("spark.broadcast.blockSize"))
print("REGION", bean.getVMOption("G1HeapRegionSize").getValue())
print("FLAGS", *[a for a in args if a.startswith("-XX:G1HeapRegionSize")])
"""


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="reads /proc")
def test_callers_confs_and_region_size_win_over_the_engines(tmp_path):
    """A fresh JVM with no class archive (a conf dir set): the engine's
    region flag is still passed, before the caller's, and the caller's
    page and block sizes and region size are the ones in force."""
    env = {k: v for k, v in os.environ.items() if k not in session._CLASSPATH_ENV}
    env["SPARK_CONF_DIR"] = str(tmp_path)
    p = subprocess.run(
        [sys.executable, "-c", _OVERRIDE_PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = {
        line.split()[0]: line.split()[1:]
        for line in p.stdout.splitlines() if line.split()
    }
    assert out["PAGE"] == [str(2 << 20)]
    assert out["BLOCK"] == ["2m"]
    assert out["REGION"] == [str(8 << 20)]
    assert out["FLAGS"] == [session._G1_REGION, "-XX:G1HeapRegionSize=8m"]
