import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
# sf0.01 mirrors the driver's correctness gate; override with
# SPARK_GRAFT_TEST_SF=/root/testdata/sf0.001 for quick local iteration.
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture
def count_py4j_commands(spark, monkeypatch):
    """``count(fn, *args)`` -> ``(fn(*args), n)``: n is the number of py4j
    gateway commands the call sent, counted by wrapping the gateway
    client's ``send_command``. Memory-release commands are not counted:
    Python's garbage collector sends them whenever a JVM handle dies,
    which is not the call's own traffic. Commands are counts, not
    timings, so a pin on them holds on a loaded machine."""
    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def count(fn, *args, **kwargs):
        n = 0

        def counting(command, *a, **kw):
            nonlocal n
            n += not command.startswith(protocol.MEMORY_COMMAND_NAME)
            return send(command, *a, **kw)

        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            result = fn(*args, **kwargs)
        return result, n

    return count
