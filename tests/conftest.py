from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecmwf_models_spark import cli, lineage  # noqa: E402
from ecmwf_models_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def bronze(spark):
    from ecmwf_models_spark.synth import gen_transcripts

    df = gen_transcripts(spark, n_conv=50, days=4, turns_per_conv=12)
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def jobs_of(spark):
    """jobs_of(fn, *args): run fn under a fresh job group; returns (its
    result, the Spark jobs it launched)."""
    sc = spark.sparkContext

    def run(fn, *args):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def hadoop_source(monkeypatch):
    """The driver lists and reads tables through the Hadoop FileSystem, as
    on a store that is not local: lineage._source takes the Hadoop source
    for every path."""
    monkeypatch.setattr(lineage, "_local_path", lambda fs, p: None)


@pytest.fixture()
def py4j_commands(spark, monkeypatch):
    """Every py4j command sent while the test runs, in order: a list of
    command strings. Deletes of garbage-collected Java object proxies,
    which py4j's finalizer thread sends whenever they come, start with
    py4j.protocol.MEMORY_COMMAND_NAME."""
    client = spark._jvm._gateway_client
    sent, send = [], client.send_command

    def record(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", record)
    return sent


@pytest.fixture()
def argv_runner(spark, monkeypatch):
    # cli._spark would build its own session; reuse the test one
    monkeypatch.setattr(cli, "_spark", lambda args: spark)

    def run(*argv):
        cli.main(list(argv))

    return run


@pytest.fixture()
def jvm_log(spark):
    """Everything the JVM logs while the test runs, as one string (a
    log4j writer appender on the root logger)."""
    jvm = spark._jvm
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    text = jvm.java.io.StringWriter()
    app = jvm.org.apache.logging.log4j.core.appender.WriterAppender.createAppender(
        jvm.org.apache.logging.log4j.core.layout.PatternLayout.createDefaultLayout(),
        None, text, "test-capture", False, True,
    )
    app.start()
    root.addAppender(app, None, None)
    ctx.updateLoggers()
    yield text.toString
    root.removeAppender("test-capture")
    ctx.updateLoggers()
    app.stop()
