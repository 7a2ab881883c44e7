"""Golden-file determinism gate (FIXTURES.md §7): a committed 2-round crawl
(schedule ordering, counters, payload text hashes) that every future version
must reproduce byte-for-byte. Regenerate with tools/gen_golden.py ONLY on an
intentional, documented semantics change."""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

import pytest

from frontier_engine import frontier, pipeline, synth
from frontier_engine.frontier import FrontierEngine

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "crawl_golden.json")


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


# {known filter} × {fetch join}: each "bloom"/"shuffle" regime is forced by
# dropping its row gate to 0. known_broadcast × fetch_shuffle is reachable
# only that way: scheduled ≤ pending_in ≤ known rows ≤ 1 M < 8 M.
REGIMES = [
    ("broadcast", "broadcast"),
    ("bloom", "broadcast"),
    ("broadcast", "shuffle"),
    ("bloom", "shuffle"),
]


@pytest.fixture(scope="module", params=REGIMES, ids=lambda r: f"known_{r[0]}-fetch_{r[1]}")
def crawl(request, spark, pages_pdf, tmp_path_factory, round_paths):
    known_regime, fetch_regime = request.param
    pages = spark.createDataFrame(pages_pdf)
    seeds = spark.createDataFrame(synth.generate_seeds(pages_pdf, n_seeds=40))
    robots = spark.createDataFrame(synth.generate_robots(pages_pdf))
    prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()
    eng = FrontierEngine(
        spark, str(tmp_path_factory.mktemp("golden")), n_shards=8, bloom_bits=1 << 16, budget=5
    )
    with pytest.MonkeyPatch.context() as mp:
        if known_regime == "bloom":
            mp.setattr(frontier, "_KNOWN_BROADCAST_ROWS", 0)
        if fetch_regime == "shuffle":
            mp.setattr(frontier, "_FETCH_BROADCAST_ROWS", 0)
        bloom_calls, fetch_hints = round_paths(mp)
        eng.init(seeds, robots)
        counters = [eng.run_round(prepared) for _ in range(2)]
    # the forced paths ran in every round
    assert len(bloom_calls) == (2 if known_regime == "bloom" else 0)
    assert fetch_hints == [fetch_regime == "broadcast"] * 2
    return eng, counters


def test_schedule_matches_golden(spark, crawl, golden):
    eng, _ = crawl
    got = [
        [r.round, r.host, r.seq, r.url_norm, r.idx_id]
        for r in eng.schedule_table().orderBy("round", "host", "seq").collect()
    ]
    assert got == golden["schedule"]


def test_counters_match_golden(crawl, golden):
    _, counters = crawl
    assert [dict(c) for c in counters] == golden["counters"]


def test_payload_hashes_match_golden(spark, crawl, golden):
    eng, _ = crawl
    payload = eng.store.read(spark, "payload_docs")
    got = sorted(
        [
            r.idx_id,
            hashlib.sha256((r.full_body or "").encode()).hexdigest()[:16],
            hashlib.sha256((r.body or "").encode()).hexdigest()[:16],
            r.lang,
            r.title,
        ]
        for r in payload.collect()
    )
    want = [list(x) for x in golden["payload_hashes"]]
    assert got == want
