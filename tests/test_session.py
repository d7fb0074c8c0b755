"""Session posture: the generated-class cache holds the working set,
the env variables are validated where they are read, and the driver
JVM's launch path picks, writes and publishes its class-data archive
only where that cannot change which configuration Spark reads."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from det_module_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    _archive_key,
    _cds_env,
    _publish_dump,
    codegen_compiles,
    get_spark,
    spark_cpus,
)

REPO = Path(__file__).resolve().parent.parent


def test_codegen_cache_keeps_generated_classes(spark):
    """60 distinct projections generate more classes than Spark's
    default cache of 100 holds; with the engine's cap a second pass
    over them finds every class cached and compiles nothing."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def one_pass():
        for i in range(60):
            spark.range(8).selectExpr(f"id * {i + 2} + 1").collect()

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before == 0


@pytest.mark.parametrize("value", ["0", "-2", "four"])
def test_cpus_variable_rejects_non_positive_counts(spark, tmp_path, monkeypatch, value):
    """``SPARK_GRAFT_CPUS`` must be a positive integer; a bad value
    fails at each reader with an error that names the variable, not
    as ``local[0]``, a zero scan floor or an unnamed ``int()`` error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from det_module_spark.sources.tables import load_table

    pq.write_table(pa.table({"k": [1, 2, 3]}), str(tmp_path / "orders.parquet"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    match = "^SPARK_GRAFT_CPUS must"
    with pytest.raises(ValueError, match=match):
        spark_cpus()
    with pytest.raises(ValueError, match=match):
        load_table(spark, str(tmp_path), "orders")
    with pytest.raises(ValueError, match=match):
        get_spark("bad-cpus")


def test_cpus_variable_reads_a_positive_count(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert spark_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert spark_cpus() == 32


@pytest.mark.parametrize("value", ["8gb", "0", "eight"])
def test_driver_memory_variable_rejects_bad_sizes(spark, monkeypatch, value):
    """``SPARK_GRAFT_DRIVER_MEM`` must be an ``-Xmx`` size; a bad one
    fails before the build with an error that names the variable, not
    as a JVM that exits before the gateway answers."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    with pytest.raises(ValueError, match="^SPARK_GRAFT_DRIVER_MEM must"):
        get_spark("bad-driver-mem")


def test_conf_is_applied_last(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark("conf-last", conf={"spark.sql.shuffle.partitions": "3"})
        assert s.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _install(tmp_path: Path) -> dict[str, str]:
    """A fake JDK and Spark home (one jar, a template-only conf dir)
    and the environment that points at them."""
    jdk, home = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_text("a")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    return {
        "JAVA_HOME": str(jdk),
        "SPARK_HOME": str(home),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "SPARK_SUBMIT_OPTS": "-Duser.opt=1",
    }


def test_archive_key_follows_jars_and_jdk(tmp_path):
    env = _install(tmp_path)
    java = os.path.join(env["JAVA_HOME"], "bin", "java")
    key = _archive_key(env["SPARK_HOME"], java)
    assert _archive_key(env["SPARK_HOME"], java) == key
    (tmp_path / "spark" / "jars" / "extra.jar").write_text("b")
    with_jar = _archive_key(env["SPARK_HOME"], java)
    assert with_jar != key
    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17.0.2"\n')
    assert _archive_key(env["SPARK_HOME"], java) not in (key, with_jar)


def test_template_only_conf_dir_dumps_then_maps(tmp_path):
    """With nothing but templates in the conf dir the JVM reads an
    empty conf dir in the cache and dumps to ``<key>.<pid>.tmp``; once
    ``<key>.jsa`` exists it maps that instead. The caller's own submit
    options are kept in front."""
    env = _install(tmp_path)
    cache = tmp_path / "cache" / "det_module_spark"
    overrides, dump = _cds_env(env)
    key = _archive_key(env["SPARK_HOME"], os.path.join(env["JAVA_HOME"], "bin", "java"))
    assert dump == str(cache / f"{key}.{os.getpid()}.tmp")
    assert overrides["SPARK_CONF_DIR"] == str(cache / "conf")
    assert not os.listdir(overrides["SPARK_CONF_DIR"])
    assert overrides["SPARK_SUBMIT_OPTS"].startswith(f"-Duser.opt=1 -XX:ArchiveClassesAtExit={dump} ")
    (cache / f"{key}.jsa").write_bytes(b"x")
    overrides, dump = _cds_env(env)
    assert dump is None
    assert f"-XX:SharedArchiveFile={cache / f'{key}.jsa'}" in overrides["SPARK_SUBMIT_OPTS"]


@pytest.mark.parametrize("setting", ["conf_file", "HADOOP_CONF_DIR"])
def test_real_configuration_launches_without_archive(tmp_path, setting):
    """A conf dir holding a real file, or a Hadoop conf dir, would be
    hidden by the empty conf dir: launch exactly as without an
    archive, SPARK_CONF_DIR untouched."""
    env = _install(tmp_path)
    if setting == "conf_file":
        (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    else:
        env["HADOOP_CONF_DIR"] = str(tmp_path / "hadoop")
    assert _cds_env(env) == ({}, None)


def test_dead_or_failed_dump_is_never_published(tmp_path):
    """A ``<key>.<pid>.tmp`` whose process is gone is deleted at the next
    launch; a dump whose JVM exited non-zero is deleted at exit. Neither
    becomes ``<key>.jsa``."""
    env = _install(tmp_path)
    cache = tmp_path / "cache" / "det_module_spark"
    key = _archive_key(env["SPARK_HOME"], os.path.join(env["JAVA_HOME"], "bin", "java"))
    gone = subprocess.Popen(["true"])
    gone.wait()
    cache.mkdir(parents=True)
    stale = cache / f"{key}.{gone.pid}.tmp"
    stale.write_bytes(b"cut off")
    _cds_env(env)
    assert not stale.exists() and not (cache / f"{key}.jsa").exists()

    failed = cache / f"{key}.{os.getpid()}.tmp"
    failed.write_bytes(b"cut off")
    proc = subprocess.Popen(
        [sys.executable, "-c", "raise SystemExit(1)"], stdin=subprocess.PIPE
    )
    _publish_dump(proc, str(failed))
    assert not failed.exists() and not (cache / f"{key}.jsa").exists()

    failed.write_bytes(b"whole")
    proc = subprocess.Popen(
        [sys.executable, "-c", "import sys; sys.stdin.read()"], stdin=subprocess.PIPE
    )
    _publish_dump(proc, str(failed))  # live: stdin closed, waits for exit 0
    assert (cache / f"{key}.jsa").read_bytes() == b"whole"


SESSION_COUNT = (
    "from det_module_spark.session import get_spark; "
    "print(get_spark('damaged').range(10).count())"
)


def test_damaged_archive_still_starts_a_session(tmp_path):
    """A random-bytes archive for the real JDK and jar set is mapped by
    no JVM: the session starts without sharing and answers."""
    env = dict(
        os.environ,
        XDG_CACHE_HOME=str(tmp_path),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    _, dump = _cds_env(env)
    if dump is None:
        pytest.skip("this Spark install's configuration launches without an archive")
    key = Path(dump).name.split(".")[0]
    archive = tmp_path / "det_module_spark" / f"{key}.jsa"
    archive.write_bytes(os.urandom(1 << 20))
    out = subprocess.run(
        [sys.executable, "-c", SESSION_COUNT],
        cwd=REPO,
        env=dict(env, PYTHONPATH=str(REPO)),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == "10"
