"""queries.common.session_cached: one build per (session, key), and a
cache whose lifetime is the session's own."""

import gc
import weakref

from darkbo_spark.queries.common import session_cached


class _Session:
    """Stand-in for a SparkSession: the cache only needs an object that
    takes attributes, and a real session is also pinned by pyspark's own
    globals (active session, RDD.toDF), which this test is not about."""


def test_builds_once_per_session_and_key():
    s1, s2 = _Session(), _Session()
    builds = []

    def build():
        builds.append(1)
        return object()

    a = session_cached(s1, ("t", 1), build)
    assert session_cached(s1, ("t", 1), build) is a
    assert session_cached(s1, ("t", 2), build) is not a
    assert session_cached(s2, ("t", 1), build) is not a
    assert len(builds) == 3


def test_cached_value_does_not_keep_a_dropped_session_alive():
    class Frame:  # like a DataFrame, the value references its session
        def __init__(self, session):
            self.sparkSession = session

    s = _Session()
    session_cached(s, "plan", lambda: Frame(s))
    gone = weakref.ref(s)
    del s
    gc.collect()
    assert gone() is None
