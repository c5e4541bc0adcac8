"""Session defaults (otel_tail_sampler_spark/session.py) and the Python
worker daemon it names (otel_tail_sampler_spark/_daemon.py)."""

import os

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


def _zip(path, files):
    import zipfile

    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _package(root, name, version=None):
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")
    if version is not None:
        (root / name / "version.py").write_text(f"__version__: str = '{version}'\n")


@pytest.mark.parametrize(
    "site, dropped",
    [
        ({"pyspark": "4.1.2", "py4j": None}, True),  # the same build, installed
        ({}, False),  # nothing installed
        ({"pyspark": "4.0.1", "py4j": None}, False),  # another pyspark build
        ({"pyspark": "4.1.2"}, False),  # no py4j beside it
    ],
)
def test_worker_daemon_drops_spark_archives_only_for_a_matching_pyspark(
    tmp_path, monkeypatch, site, dropped
):
    """The daemon's archive rule on a fake worker path: Spark's archives
    and their importers go only when the rest of the path imports a
    directory pyspark of the zip's version and a directory py4j; a user
    zip always stays."""
    import sys

    from otel_tail_sampler_spark._daemon import drop_spark_archives

    monkeypatch.setattr(sys, "path_importer_cache", {})
    lib = tmp_path / "spark" / "python" / "lib"
    spark_zip = _zip(lib / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n",
    })
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""})
    jar = _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {"org/x": ""})
    user_zip = _zip(tmp_path / "user.zip", {"job/__init__.py": ""})
    for name, version in site.items():
        _package(tmp_path / "site", name, version)
    site_dir = str(tmp_path / "site")
    path = [spark_zip, py4j_zip, jar, user_zip, site_dir]
    importers = {
        p: "importer" for p in
        path + [spark_zip + "/pyspark", jar + "/org", user_zip + "/job"]
    }
    want_path, want_importers = list(path), dict(importers)

    drop_spark_archives(path, importers)

    if dropped:
        want_path = [user_zip, site_dir]
        want_importers = {k: v for k, v in want_importers.items() if k.startswith(
            (user_zip, site_dir))}
    assert path == want_path
    assert importers == want_importers


def _worker_modules(it):
    """mapInPandas body: where the worker's pyspark comes from and the
    zipimporters it holds."""
    import sys

    import pandas as pd
    import pyspark

    for _ in it:
        pass
    zipped = sorted(
        k for k, v in sys.path_importer_cache.items()
        if type(v).__name__ == "zipimporter"
    )
    yield pd.DataFrame({"pyspark": [pyspark.__file__], "zipped": [zipped]})


def test_workers_import_pyspark_from_no_archive(spark):
    """With the product's session a Python worker imports the installed
    pyspark and holds no zipimporter for Spark's archives."""
    import re

    row = (
        spark.range(1).repartition(1)
        .mapInPandas(_worker_modules, "pyspark string, zipped array<string>")
        .collect()[0]
    )
    assert os.path.isfile(row["pyspark"]), row["pyspark"]
    archive = re.compile(r"pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar")
    assert not [
        k for k in row["zipped"]
        if any(archive.fullmatch(part) for part in k.split(os.sep))
    ]


def test_driver_outside_the_repository_runs_a_pandas_udf(tmp_path):
    """A driver that imports the package by path, started in another
    directory and without PYTHONPATH, still starts its Python workers
    through the package's daemon."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    job = tmp_path / "job.py"
    job.write_text(
        "import json, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "import pandas as pd\n"
        "from otel_tail_sampler_spark.session import build_session\n"
        "s = build_session(master='local[1]', extra_conf={'spark.driver.memory': '1g'})\n"
        "def f(it):\n"
        "    import pyspark\n"
        "    for _ in it:\n"
        "        pass\n"
        "    yield pd.DataFrame({'pyspark': [pyspark.__file__]})\n"
        "r = s.range(1).mapInPandas(f, 'pyspark string').collect()[0]\n"
        "print(json.dumps({'daemon': s.sparkContext.getConf()"
        ".get('spark.python.daemon.module'), 'pyspark': r['pyspark']}))\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(job)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["daemon"] == "otel_tail_sampler_spark._daemon"
    assert os.path.isfile(got["pyspark"]), got["pyspark"]
