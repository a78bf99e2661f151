from __future__ import annotations

import pytest

from osm_render_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # sized to the host (SPARK_GRAFT_CPUS or the CPU affinity set): one
    # task wave per Arrow stage
    s = get_spark("osm_render_spark_tests")
    yield s
