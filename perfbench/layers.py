"""Spans around the engine's layer entry points, recorded from outside.

``instrument`` swaps the functions that ``crawl`` and ``run_round`` look
up (module attributes of ``plans.driver``, ``plans.round`` and
``operators.expand``, and methods of ``SnapshotCatalog`` and the seen
filters) for wrappers, and puts the originals back on exit.

Every wrapper records a span, and a wrapper whose layer returns a lazy
DataFrame persists and counts it inside the span, so the Spark work
lands in the layer that owns it.  Counting work done only for
the trace (key collects for the filter false-positive rate, directory
walks for bytes written) runs in a child span named ``trace.counters``
under its own job group, so it is charged to no layer.
"""

from __future__ import annotations

import functools
import os
from contextlib import ExitStack, contextmanager
from pathlib import Path

import numpy as np

from .spans import Tracer

TRACE_GROUP = "perfbench-trace"
# the local properties ``SparkContext.setJobGroup`` sets
JOB_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)


def dir_bytes(root: Path) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``root``."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            n_bytes += os.stat(os.path.join(dirpath, f)).st_size
            n_files += 1
    return n_bytes, n_files


def url_hashes(df) -> np.ndarray:
    """The ``url_hash`` column of ``df``, collected through Arrow."""
    return df.select("url_hash").toPandas()["url_hash"].to_numpy(dtype=np.int64)


def filter_fill(flt) -> float:
    """Share of Bloom bits set, or of cuckoo slots occupied."""
    if hasattr(flt, "bits"):
        return float(np.unpackbits(flt.bits).mean())
    return float((flt.table != 0).mean())


@contextmanager
def keep_job_group(sc):
    """Restore the job group in force on entry when the block ends."""
    saved = [sc.getLocalProperty(p) for p in JOB_GROUP_PROPS]
    try:
        yield
    finally:
        for p, v in zip(JOB_GROUP_PROPS, saved):
            sc.setLocalProperty(p, v)


@contextmanager
def round_job_groups():
    """Confine the job group ``run_round`` sets (``round-<id>``) to the
    round: when it returns, the caller's group is back in force, so the
    frontier probe and the compactions ``crawl`` runs between rounds are
    not counted as the round's jobs."""
    import cex_crawler_spark.plans.driver as driver_mod

    original = driver_mod.run_round

    @functools.wraps(original)
    def run_round(spark, *args, **kwargs):
        with keep_job_group(spark.sparkContext):
            return original(spark, *args, **kwargs)

    driver_mod.run_round = run_round
    try:
        yield
    finally:
        driver_mod.run_round = original


@contextmanager
def instrument(spark, tracer: Tracer):
    """Record spans around the layer entry points while the block runs."""
    import cex_crawler_spark.operators.expand as expand_mod
    import cex_crawler_spark.plans.driver as driver_mod
    import cex_crawler_spark.plans.round as round_mod
    from cex_crawler_spark.catalog import SnapshotCatalog
    from cex_crawler_spark.operators.seen import BloomFilter64, CuckooFilter64

    w = _Wrappers(spark, tracer)
    patches = [
        (driver_mod, "run_round", w.run_round),
        (round_mod, "anti_join_seen", w.anti_join_seen),
        (round_mod, "schedule_round", w.materialized("politeness.schedule")),
        (round_mod, "fetch_and_validate", w.fetch_and_validate),
        (expand_mod, "expand_links", w.expand_links),
        (round_mod, "build_bloom", w.plain("seen.filter_build")),
        (round_mod, "build_cuckoo", w.plain("seen.filter_build")),
        (driver_mod, "build_bloom", w.plain("seen.filter_rebuild")),
        (driver_mod, "build_cuckoo", w.plain("seen.filter_rebuild")),
        (driver_mod, "load_bloom_sidecar", w.plain("seen.sidecar_load")),
        (driver_mod, "load_cuckoo_sidecar", w.plain("seen.sidecar_load")),
        (round_mod, "save_bloom_sidecar", w.sidecar_save(".bin")),
        (round_mod, "save_cuckoo_sidecar", w.sidecar_save(".cuckoo.bin")),
        (BloomFilter64, "merge", w.filter_merge),
        (CuckooFilter64, "merge", w.filter_merge),
        (SnapshotCatalog, "commit", w.commit),
        (SnapshotCatalog, "amend", w.plain("catalog.amend")),
        (SnapshotCatalog, "compact", w.compact),
    ]
    with ExitStack() as stack:
        for owner, name, wrapper in patches:
            original = getattr(owner, name)
            setattr(owner, name, wrapper(original))
            stack.callback(setattr, owner, name, original)
        yield


class _Wrappers:
    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.persisted: list = []
        self.seen_keys = np.zeros(0, dtype=np.int64)

    # ------------------------------------------------------------ helpers

    @contextmanager
    def counters(self):
        """Trace-only counting: a child span, under its own job group."""
        with keep_job_group(self.sc):
            self.sc.setJobGroup(TRACE_GROUP, "benchmark trace counters")
            with self.tracer.span("trace.counters"):
                yield

    def plain(self, name: str):
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                with self.tracer.span(name):
                    return fn(*args, **kwargs)
            return inner
        return wrap

    def _materialize(self, df, *aggs):
        from pyspark.sql import functions as F

        df = df.persist()
        self.persisted.append(df)
        row = df.agg(F.count(F.lit(1)).alias("rows"), *aggs).collect()[0]
        return df, row

    def materialized(self, name: str):
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                with self.tracer.span(name) as s:
                    df, row = self._materialize(fn(*args, **kwargs))
                    s.counters["rows"] = int(row["rows"])
                    return df
            return inner
        return wrap

    # ------------------------------------------------------------- rounds

    def run_round(self, fn):
        @functools.wraps(fn)
        def inner(spark, catalog, host_policy, watermark, round_id, *a, **kw):
            self.tracer.round = round_id
            try:
                with self.tracer.span("round.run_round") as s:
                    stats = fn(
                        spark, catalog, host_policy, watermark, round_id, *a, **kw
                    )
                    s.counters.update(stats)
                    with self.counters():
                        for df in self.persisted:
                            df.unpersist()
                        self.persisted.clear()
                return stats
            finally:
                self.tracer.round = None
        return inner

    # --------------------------------------------------------------- seen

    def anti_join_seen(self, fn):
        @functools.wraps(fn)
        def inner(frontier, seen, key_col="url_hash", bloom=None):
            with self.tracer.span("seen.anti_join") as s:
                df, row = self._materialize(fn(frontier, seen, key_col, bloom))
                s.counters["rows_out"] = int(row["rows"])
                with self.counters():
                    keys = url_hashes(frontier)
                    self.seen_keys = (
                        url_hashes(seen) if seen is not None
                        else np.zeros(0, dtype=np.int64)
                    )
                    s.counters["rows_in"] = int(keys.size)
                    if seen is not None and bloom is not None:
                        maybe = bloom.might_contain(keys)
                        truly = np.isin(keys, self.seen_keys)
                        s.counters["probed"] = int(keys.size)
                        s.counters["possibly_seen"] = int(maybe.sum())
                        s.counters["truly_new"] = int((~truly).sum())
                        s.counters["false_positives"] = int((maybe & ~truly).sum())
                return df
        return inner

    def filter_merge(self, fn):
        @functools.wraps(fn)
        def inner(flt, other):
            with self.tracer.span("seen.filter_merge") as s:
                out = fn(flt, other)
                with self.counters():
                    s.counters["fill"] = filter_fill(flt)
                return out
        return inner

    def sidecar_save(self, suffix: str):
        def wrap(fn):
            @functools.wraps(fn)
            def inner(catalog, version, flt, n_expected):
                with self.tracer.span("seen.sidecar_save") as s:
                    out = fn(catalog, version, flt, n_expected)
                    path = Path(catalog.root) / "_bloom" / f"v{version:06d}{suffix}"
                    s.counters["bytes"] = path.stat().st_size
                    return out
            return inner
        return wrap

    # -------------------------------------------------------------- fetch

    def fetch_and_validate(self, fn):
        from pyspark.sql import functions as F

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.tracer.span("fetch.validate") as s:
                df, row = self._materialize(
                    fn(*args, **kwargs),
                    F.countDistinct("image_id").alias("ids"),
                    F.count_if(~F.coalesce(F.col("valid"), F.lit(False))).alias("bad"),
                )
                s.counters["rows"] = int(row["rows"])
                s.counters["distinct_ids"] = int(row["ids"])
                s.counters["invalid"] = int(row["bad"])
                return df
        return inner

    def expand_links(self, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.tracer.span("expand.links") as s:
                df, row = self._materialize(fn(*args, **kwargs))
                s.counters["rows"] = int(row["rows"])
                with self.counters():
                    keys = np.unique(url_hashes(df))
                    s.counters["new_keys"] = int(
                        (~np.isin(keys, self.seen_keys)).sum()
                    )
                return df
        return inner

    # ------------------------------------------------------------ catalog

    def commit(self, fn):
        @functools.wraps(fn)
        def inner(catalog, *args, **kwargs):
            with self.tracer.span("catalog.commit") as s:
                with self.counters():
                    b0, f0 = dir_bytes(catalog.root)
                version = fn(catalog, *args, **kwargs)
                with self.counters():
                    b1, f1 = dir_bytes(catalog.root)
                s.counters["bytes_written"] = b1 - b0
                s.counters["files_written"] = f1 - f0
                return version
        return inner

    def compact(self, fn):
        @functools.wraps(fn)
        def inner(catalog, spark, table, *args, **kwargs):
            with self.tracer.span("catalog.compact") as s:
                version = fn(catalog, spark, table, *args, **kwargs)
                with self.counters():
                    paths = catalog.manifest(version)["tables"][table]["paths"]
                    s.counters["bytes_rewritten"] = sum(
                        dir_bytes(Path(p))[0] for p in paths
                    )
                return version
        return inner
