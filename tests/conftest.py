import gc

import pytest


@pytest.fixture(scope="session")
def spark():
    from ukeeper_readability_spark.jobs.extract_job import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def py4j_calls(spark):
    """`py4j_calls(build)`: the py4j round trips made while `build()`
    constructs (not runs) a plan. A first build resolves JVM classes and
    methods; only the second counts. Memory-release commands ("m") are not
    counted: py4j sends them for objects that died earlier, whenever the
    connection is next free."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def count(build) -> int:
        n = 0

        def counting(command, *args, **kwargs):
            nonlocal n
            n += not command.startswith("m\n")
            return send(command, *args, **kwargs)

        build()
        gc.collect()
        gc.disable()
        try:
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(client, "send_command", counting)
                build()
        finally:
            gc.enable()
        return n

    return count
