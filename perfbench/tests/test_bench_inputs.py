"""A seed changes every URL hash and payload, not the input's mix.

The mix is the seeds' host, section, duplicate and freshness shares and
the first round's per-host statuses; the links discovered later depend
on the (seeded) payloads, so their counts may differ between seeds."""

from collections import Counter

import pytest

from cex_crawler_spark.functions.urlnorm import py_canonicalize_url, py_url_hash
from cex_crawler_spark.replayer import replay_crawl
from perfbench.inputs import SHAPES, WATERMARK, host_policy, seed_label, seeded_frontier


def _rows(spark, shape, seed):
    return [r.asDict() for r in seeded_frontier(spark, shape, seed).collect()]


def _mix(rows, statuses):
    return (
        Counter(r["host"] for r in rows),
        Counter(r["section"] for r in rows),
        Counter(r["duplicate_of"] is not None for r in rows),
        Counter(r["time_known_prefetch"] for r in rows),
        len({r["image_id"] for r in rows}),
        statuses,
    )


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_seed_changes_hashes_not_mix(spark, name):
    from dataclasses import replace

    shape = replace(SHAPES[name], n_urls=400)
    policy = [r.asDict() for r in host_policy(spark, shape).collect()]
    by_seed = {}
    for seed in (1, 2):
        rows = _rows(spark, shape, seed)
        oracle = replay_crawl(rows, policy, WATERMARK, expand=shape.expand)
        statuses = Counter(
            (r["host"], r["status"]) for r in oracle if r["round"] == 0
        )
        hashes = {py_url_hash(py_canonicalize_url(r["url"])) for r in rows}
        by_seed[seed] = (rows, hashes, _mix(rows, statuses))
    (rows1, h1, mix1), (rows2, h2, mix2) = by_seed[1], by_seed[2]
    assert h1.isdisjoint(h2)
    assert {r["image_id"] for r in rows1}.isdisjoint(r["image_id"] for r in rows2)
    assert mix1 == mix2


def test_same_seed_same_rows(spark):
    shape = SHAPES["rediscovery_requeue"]
    from dataclasses import replace

    shape = replace(shape, n_urls=200)
    assert _rows(spark, shape, 5) == _rows(spark, shape, 5)


def test_seed_label_fixed_width():
    assert seed_label(0) == "s00000000"
    assert len(seed_label(2**40 + 3)) == len(seed_label(7)) == 9
