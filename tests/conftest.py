from __future__ import annotations

import pytest

from frontier_engine import synth
from frontier_engine.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, app="frontier_engine_tests", shuffle_partitions=8, driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def pages_pdf():
    return synth.generate_pages(n_pages=300, seed=42, n_hosts=40)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    df = spark.createDataFrame(pages_pdf)
    df.persist().count()
    return df


@pytest.fixture(scope="session")
def round_paths():
    """``round_paths(mp)`` spies, under the MonkeyPatch ``mp``, on the two
    gated joins of ``FrontierEngine.run_round`` and returns two lists that
    gain one entry per round: ``bloom`` when link discovery took the
    known_shards bloom filter, and ``fetch_broadcast`` with whether the
    fetch join (the plan's top inner join) carried a broadcast hint."""
    from frontier_engine import pipeline, urlseen

    def watch(mp):
        bloom, fetch_broadcast = [], []
        real_filter, real_processed = urlseen.filter_unseen, pipeline.processed

        def filter_spy(*args, **kwargs):
            bloom.append(True)
            return real_filter(*args, **kwargs)

        def processed_spy(df, *args, **kwargs):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            join = next(line for line in plan.splitlines() if "Join Inner" in line)
            fetch_broadcast.append("strategy=broadcast" in join)
            return real_processed(df, *args, **kwargs)

        mp.setattr(urlseen, "filter_unseen", filter_spy)
        mp.setattr(pipeline, "processed", processed_spy)
        return bloom, fetch_broadcast

    return watch
