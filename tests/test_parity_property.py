"""Property-based parity: for RANDOM configurations across the whole knob
space, the engine equals the pure-Python oracle byte-for-byte. The
example-based suite pins known quirks; this sweeps the cross-products nobody
hand-picked (hypothesis prints the failing ExtractConfig on regression)."""

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.testing import assert_parity

_spark = None


@pytest.fixture(scope="module", autouse=True)
def _bind_spark(spark):
    global _spark
    _spark = spark
    yield
    _spark = None


configs = st.builds(
    ExtractConfig,
    wrap_width=st.sampled_from([20, 40, 80, 120, 200]),
    norm_mode=st.sampled_from(["aspect", "fixed", "none"]),
    min_block_w=st.sampled_from([1, 5, 30]),
    min_block_h=st.sampled_from([1, 3]),
    min_score=st.sampled_from([0.0, 0.4, 0.6, 0.95]),
    # includes the unknown-method fallback path (≙ reference crop.py:200-202)
    method=st.sampled_from(["largest", "center", "bogus-mode"]),
    ref_point=st.sampled_from(["box", "top"]),
    # includes the unknown-rule center fallback (H5)
    rules=st.sampled_from([("thirds",), ("golden",), ("thirds", "golden"),
                           ("mystery",), ("golden", "thirds", "mystery")]),
    ratio=st.sampled_from([None, "16:9", "1:1", "3.5", "100:1", "1:100", "0.2"]),
    padding_percent=st.sampled_from([0.0, 2.5, 5.5, 12.0, 45.0]),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cfg=configs)
def test_parity_random_configs(cfg):
    assert_parity(_spark, 14, cfg)
