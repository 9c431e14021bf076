"""Seeded workload inputs.

The engine's generator (``synth.gen_frontier``) is a pure function of the
row id, so on its own it yields the same frontier every time.  The
benchmark salts its output with the workload seed: every URL moves to a
seed-named subdomain and every ``image_id`` is re-hashed with the seed.
Every ``url_hash`` and payload therefore changes with the seed, while the
host skew, duplicate, robots and staleness mix (all functions of the row
id) stay the same.  The engine only ever receives the generated rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WATERMARK = "2025-08-29 00:00:00"
PAYLOAD_SPACE = 10**10  # "img%010d" ids


@dataclass(frozen=True)
class Shape:
    """One crawl workload's input shape and crawl settings."""

    name: str
    n_urls: int
    # None: one payload per URL (the memo never hits); else shared count
    n_payloads: int | None
    expand: bool
    # after the first round, requeue the fetched seed pages with
    # pmod(url_hash, requeue_mod) == 0, and compact after every round of
    # the second crawl() call (0: neither)
    requeue_mod: int

    @property
    def filter_expected(self) -> int:
        return max(4 * self.n_urls, 100_000)


SHAPES = {
    s.name: s
    for s in (
        Shape(
            name="drain_unique", n_urls=8_000, n_payloads=None,
            expand=False, requeue_mod=0,
        ),
        Shape(
            name="rediscovery_requeue", n_urls=1_500, n_payloads=1000,
            expand=True, requeue_mod=8,
        ),
    )
}


def seed_label(seed: int) -> str:
    """Fixed-width DNS label for a seed, so URL lengths do not vary."""
    return f"s{seed % 2**32:08x}"


def seeded_frontier(spark: SparkSession, shape: Shape, seed: int) -> DataFrame:
    from cex_crawler_spark.synth import gen_frontier

    label = seed_label(seed)
    n_payloads = PAYLOAD_SPACE if shape.n_payloads is None else shape.n_payloads
    return (
        gen_frontier(spark, shape.n_urls, n_payloads=n_payloads)
        .withColumn(
            "url",
            F.regexp_replace("url", r"\.example\.com/", f".{label}.example.com/"),
        )
        .withColumn(
            "image_id",
            F.format_string(
                "img%010d",
                F.pmod(F.xxhash64(F.lit(label), "image_id"), F.lit(PAYLOAD_SPACE)),
            ),
        )
    )


def host_policy(spark: SparkSession, shape: Shape) -> DataFrame:
    """The engine's host policy with every host's budget at ``n_urls``.
    No host has more schedulable rows than that in any round (its seeds,
    or its distinct child pages plus the requeued slice), so every round
    schedules each host's whole share."""
    from cex_crawler_spark.synth import gen_host_policy

    return gen_host_policy(spark).withColumn(
        "budget_per_round", F.lit(shape.n_urls).cast("int")
    )
