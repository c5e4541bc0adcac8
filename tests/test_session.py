"""Session defaults (otel_tail_sampler_spark/session.py)."""

import pytest

from otel_tail_sampler_spark import session
from otel_tail_sampler_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "master, want",
    [
        ("local[32]", "16g"),  # 0.5 GiB per core
        ("local[33]", "17g"),  # rounds up
        ("local[64,3]", "32g"),  # task-retry suffix ignored
        ("local[4]", "8g"),  # 8 GiB floor
        ("local", "8g"),  # one core
        ("spark://host:7077", "8g"),  # non-local: floor
        ("yarn", "8g"),
    ],
)
def test_default_driver_memory_follows_local_cores(master, want):
    assert default_driver_memory(master) == want


def test_default_driver_memory_star_uses_host_cores(monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 48)
    assert default_driver_memory("local[*]") == "24g"
    assert default_driver_memory("local[*,2]") == "24g"
    monkeypatch.setattr(session.os, "cpu_count", lambda: None)
    assert default_driver_memory("local[*]") == "8g"


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every setting and
    hands back the test session."""

    def __init__(self, spark):
        self.spark, self.conf = spark, {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.spark


def test_session_restates_no_spark_sql_default(spark, monkeypatch):
    """Each spark.sql.* setting build_session applies changes behaviour:
    parsed by a fresh SQLConf, no value equals Spark's own default. The
    session time zone is exempt: its default is the host's zone."""
    builder = _RecordingBuilder(spark)
    monkeypatch.setattr(
        session, "SparkSession", type("S", (), {"builder": builder})
    )
    session.build_session()
    jvm = spark._jvm
    sql_conf = jvm.org.apache.spark.sql.internal.SQLConf
    entries = getattr(getattr(jvm.org.apache.spark.sql.internal, "SQLConf$"), "MODULE$")
    restated = []
    for key, value in builder.conf.items():
        if not key.startswith("spark.sql.") or key == "spark.sql.session.timeZone":
            continue
        entry = entries.getConfigEntry(key)
        fresh, set_ = sql_conf(), sql_conf()
        set_.setConfString(key, value)
        if set_.getConf(entry) == fresh.getConf(entry):
            restated.append(key)
    assert not restated, f"settings equal to Spark's default: {restated}"


def test_launcher_sets_master_and_shuffle_partitions(tmp_path):
    """Under spark-submit --master local[2], build_session() runs on that
    master with one shuffle partition per core."""
    import json
    import os
    import subprocess

    import pyspark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    job = tmp_path / "job.py"
    job.write_text(
        "import json, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from otel_tail_sampler_spark.session import build_session\n"
        "s = build_session()\n"
        "print(json.dumps({'master': s.sparkContext.master, 'partitions': "
        "s.conf.get('spark.sql.shuffle.partitions')}))\n"
        "s.stop()\n"
    )
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "1g", str(job)],
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got == {"master": "local[2]", "partitions": "2"}
