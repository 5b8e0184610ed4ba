"""Model-based MERGE property test (SURVEY.md §5.4): any sequence of
upserts against the warehouse equals the same sequence applied to a plain
Python dict."""

from hypothesis import HealthCheck, given, settings, strategies as st

import pytest

from global_seismic_data_pipeline_spark.sources.deltawh import DeltaLogWarehouse
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse


@pytest.fixture(params=[Warehouse, DeltaLogWarehouse], ids=["plain", "delta"])
def wh_cls(request):
    return request.param

_spark = None

KEYS = ["k0", "k1", "k2", "k3", "k4", "k5"]

batch_strategy = st.lists(
    st.lists(
        st.tuples(st.sampled_from(KEYS), st.integers(-1000, 1000)),
        min_size=1,
        max_size=4,
        unique_by=lambda kv: kv[0],  # merge requires key-unique updates
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=batch_strategy)
def test_merge_sequence_equals_dict_model(wh_cls, batches):
    spark = _spark
    import tempfile

    root = tempfile.mkdtemp(prefix="mergemodel-")
    wh = wh_cls(spark, root)
    model: dict[str, int] = {}
    for batch in batches:
        df = spark.createDataFrame(batch, "k string, v int")
        wh.merge(df, "t", ["k"])
        model.update(dict(batch))
        got = {r.k: r.v for r in wh.read("t").collect()}
        assert got == model
    import shutil

    shutil.rmtree(root, ignore_errors=True)


import pytest  # noqa: E402


@pytest.fixture(autouse=True)
def _bind_spark(spark):
    global _spark
    _spark = spark
