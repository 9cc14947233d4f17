import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get('SPARK_GRAFT_TEST_SF_DIR', '/root/testdata/sf0.001')


@pytest.fixture(scope='session')
def spark():
    from dragnet_spark.plans.session import get_spark
    spark = get_spark(app_name='dragnet-spark-tests', cores=4,
                      extra_conf={'spark.sql.shuffle.partitions': '8'})
    yield spark
    spark.stop()


@pytest.fixture(scope='session')
def sf_dir():
    return SF_DIR


@pytest.fixture
def counts_stage_calls(monkeypatch):
    """The keyword arguments of every ``text_analysis._counts_stage``
    call made while the test runs, whichever module imported it."""
    from dragnet_spark.operators import text_analysis
    orig = text_analysis._counts_stage
    calls = []

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return orig(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if (getattr(mod, '__name__', '').startswith('dragnet_spark')
                and getattr(mod, '_counts_stage', None) is orig):
            monkeypatch.setattr(mod, '_counts_stage', spy)
    return calls
