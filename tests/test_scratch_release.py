"""Registry queries that round-trip through a sink leave no scratch
directory behind: ``runtime.release_tracked`` deletes it when the next
registry query is built, as it unpersists tracked caches."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from conftest import SF_SMOKE

from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries import all_queries


def test_replica_sink_dir_removed_at_next_build(spark):
    q = all_queries()
    df = q["vdt1_replica"](spark, SF_SMOKE)
    (sink,) = {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}
    assert os.path.basename(sink).startswith("lakegraft_vdt1_")
    assert df.count() > 0
    q["scan_project"](spark, SF_SMOKE)
    assert not os.path.exists(sink)
