"""Crawl workloads: set-up, timed passes, correctness checks.

Every workload runs the same crawl life cycle on its own input shape
(``inputs.SHAPES``), one pass per bootstrapped catalog:

1. ``crawl`` with the Bloom filter for one round;
2. if the shape requeues: ``requeue`` of a seeded slice of the pages
   fetched in step 1, at priority 1 so the re-fetches queue behind the
   links step 1 discovered (priority 0);
3. ``crawl`` again until the frontier drains.  Without a requeue it
   resumes from the Bloom sidecar (on a one-round drain it only loads the
   sidecar and finds the frontier empty).  After a requeue it uses the
   cuckoo filter, finds no sidecar on the requeue commit, rebuilds the
   filter from the seen table, and compacts the append tables after
   every round.  Its first round fetches the discovered links and the
   requeued pages; the re-fetched pages link to the same children again,
   all resolved by then, so the next round's frontier is rediscoveries
   only: the prefilter reports them possibly seen and the exact
   anti-join drops them, and that round adds no result row.

Only the ``crawl``/``requeue`` calls are timed, and an untraced pass
runs the engine unwrapped.  The correctness checks run after the calls:

- the result rows (round, host, ``host_seq``, URL, status, caption),
  apart from the re-fetches, and the seen set must equal
  ``replayer.replay_crawl``, and every fetched row must be ``valid``;
- ``requeue`` must report the slice as un-seen and re-queued, and every
  requeued URL must be fetched exactly once more (its re-discovered
  links add no row, so the replayer comparison stays exact);
- the last persisted Bloom and cuckoo sidecars must report
  ``might_contain`` for every key of the seen table they cover;
- no Spark task may fail.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from cex_crawler_spark.functions.urlnorm import py_canonicalize_url, py_url_hash
from cex_crawler_spark.replayer import SECTION_RANK

from .inputs import WATERMARK, Shape, host_policy, seed_label, seeded_frontier
from .layers import dir_bytes, instrument, round_job_groups, url_hashes
from .spans import Tracer

SETUP_REPEATS = 3  # bootstraps per run; each pass or warm-up round crawls one
MAX_ROUNDS = 50


def _crawl_order(r: dict) -> tuple:
    """The order in which a round picks the first of duplicate rows."""
    return (r["priority"], SECTION_RANK[r["section"]], r["seq"], r["seed_id"])


def _result_key(r: dict) -> tuple:
    return (r["round"], r["host"], r["host_seq"] or -1, r["url"],
            r["url_hash"], r["status"], r["caption"] or "")


@dataclass
class PassResult:
    tag: str
    calls_s: float
    urls: int
    disk_bytes: int
    rounds: list[dict]
    failures: Counter
    tracer: Tracer | None = None
    # per round: jobs / stages / tasks / failed tasks from the status tracker
    round_jobs: list[dict] = field(default_factory=list)

    @property
    def urls_per_s(self) -> float:
        return self.urls / self.calls_s


class CrawlRun:
    """One benchmark run of one workload: a session, its set-up, passes."""

    def __init__(self, shape: Shape, seed: int, workdir: Path, traced: bool):
        self.shape = shape
        self.seed = seed
        self.label = seed_label(seed)
        self.workdir = workdir
        # the set-up tracer records session start and the bootstraps
        self.setup_tracer = (
            Tracer(shape.name, f"{self.label}-setup") if traced else None
        )
        self.attributed_jobs: set[int] = set()
        self.session_s = self.warmup_s = 0.0
        self.bootstrap_s: list[float] = []
        self.catalogs: list = []

    # ------------------------------------------------------------- set-up

    def start_session(self) -> None:
        """Session on ``local[n]`` with n = the cores this process may
        use, shuffle partitions = n, and every temp dir in the work dir."""
        n = len(os.sched_getaffinity(0))
        local = self.workdir / "spark-local"
        local.mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        # no JVM perf-data files: they would go to the system temp dir
        java_opts = f"-Djava.io.tmpdir={self.workdir} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
        t0 = time.perf_counter()
        from cex_crawler_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.shape.name}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.local.dir": str(local),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": java_opts,
            },
        )
        self.session_s = time.perf_counter() - t0
        if self.setup_tracer:
            self.setup_tracer.record("session.start", t0, t0 + self.session_s)
        self.policy = host_policy(self.spark, self.shape)

    def warm_up(self) -> None:
        """One JVM action, as ``bench.py`` warms up, and one Python action
        that starts a worker per core and runs one payload verdict in it.
        Without the second, the first round's fetch stage starts the
        workers and imports the imaging code while the JVM is busy, for
        a time that varies widely from run to run."""
        from pyspark.sql import functions as F

        def start(batches):
            from cex_crawler_spark.functions.imaging import decode_image, psnr
            from cex_crawler_spark.payload import payload_for, reference_decode

            for pdf in batches:
                for i in pdf["id"]:
                    p = payload_for(f"img{i:010d}")
                    psnr(decode_image(p["bytes"], p["fmt"]),
                         reference_decode(f"img{i:010d}"))
                yield pdf

        n = self.spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        self.spark.range(1_000_000).select(F.sum("id")).collect()
        self.spark.range(n, numPartitions=n).mapInPandas(start, "id long").collect()
        self.warmup_s = time.perf_counter() - t0

    def bootstrap_catalogs(self) -> None:
        """Generate the seeded input and bootstrap one catalog per
        possible pass, timing each set-up."""
        from cex_crawler_spark.catalog import SnapshotCatalog
        from cex_crawler_spark.plans.driver import bootstrap

        self.spark.sparkContext.setJobGroup("perfbench-setup", "benchmark set-up")
        tracer = self.setup_tracer
        with instrument(self.spark, tracer) if tracer else nullcontext():
            for i in range(SETUP_REPEATS):
                cat = SnapshotCatalog(self.workdir / f"catalog{i}")
                t0 = time.perf_counter()
                seeds = seeded_frontier(self.spark, self.shape, self.seed)
                if tracer:
                    with tracer.span("driver.bootstrap"):
                        bootstrap(cat, seeds, WATERMARK)
                else:
                    bootstrap(cat, seeds, WATERMARK)
                self.bootstrap_s.append(time.perf_counter() - t0)
                self.catalogs.append(cat)
        self.seeds = seeded_frontier(self.spark, self.shape, self.seed)

    def replay(self) -> None:
        """Expected crawl from the single-node replayer (untimed)."""
        from cex_crawler_spark.replayer import final_seen_set, replay_crawl

        self.spark.sparkContext.setJobGroup("perfbench-check", "replay input")
        self.seed_rows = [r.asDict() for r in self.seeds.collect()]
        oracle = replay_crawl(
            self.seed_rows,
            [r.asDict() for r in self.policy.collect()],
            WATERMARK, max_rounds=MAX_ROUNDS, expand=self.shape.expand,
        )
        self.expected = Counter(map(_result_key, oracle))
        self.expected_seen = final_seen_set(oracle)

    # --------------------------------------------------------------- pass

    def run_pass(self, traced: bool) -> PassResult:
        from cex_crawler_spark.plans.driver import crawl, requeue

        spark = self.spark
        sc = spark.sparkContext
        cat = self.catalogs.pop(0)
        tag = f"pass{SETUP_REPEATS - len(self.catalogs)}"
        tracer = Tracer(self.shape.name, f"{self.label}-{tag}") if traced else None
        calls = [0.0]
        shape = self.shape

        def timed(call: str, fn, *args, **kwargs):
            sc.setJobGroup(f"perfbench-{tag}-{call}", f"benchmark {call}")
            t0 = time.perf_counter()
            if tracer:
                with tracer.span(f"driver.{fn.__name__}") as span:
                    span.counters["call"] = call
                    out = fn(*args, **kwargs)
            else:
                out = fn(*args, **kwargs)
            calls[0] += time.perf_counter() - t0
            return out

        failures: Counter = Counter()
        slice_keys: set[int] = set()
        with round_job_groups(), (
            instrument(spark, tracer) if tracer else nullcontext()
        ):
            # crawl() returns one {round, **stats} entry per round it ran
            rounds = timed(
                "crawl1", crawl, spark, cat, self.policy, WATERMARK,
                max_rounds=1, bloom_expected=shape.filter_expected,
                filter_kind="bloom", expand=shape.expand,
            )
            if shape.requeue_mod:
                sc.setJobGroup(f"perfbench-{tag}-check", "benchmark checks")
                slice_keys, requeue_seeds = self.requeue_input(cat)
                report = timed("requeue", requeue, spark, cat, requeue_seeds)
                n = len(slice_keys)
                failures["requeue_report"] = (
                    abs(report["unseen"] - n) + abs(report["requeued"] - n)
                )
            rounds += timed(
                "crawl2", crawl, spark, cat, self.policy, WATERMARK,
                max_rounds=MAX_ROUNDS, bloom_expected=shape.filter_expected,
                filter_kind="cuckoo" if shape.requeue_mod else "bloom",
                expand=shape.expand,
                compact_every=1 if shape.requeue_mod else None,
            )
        sc.setJobGroup(f"perfbench-{tag}-check", "benchmark checks")
        results = [r.asDict() for r in cat.read(spark, "results").collect()]
        failures += self.check_results(cat, results, slice_keys)
        failures += self.check_filters(cat)
        result = PassResult(
            tag=tag, calls_s=calls[0], urls=len(results),
            disk_bytes=dir_bytes(Path(cat.root))[0], rounds=rounds,
            failures=failures, tracer=tracer,
        )
        self.count_jobs(result, tag)
        return result

    # ------------------------------------------------------------- checks

    def check_results(self, cat, results: list[dict], slice_keys: set) -> Counter:
        """Rows and seen set against the replayer; re-fetches apart."""
        refetch = [
            r for r in results if r["round"] > 0 and r["url_hash"] in slice_keys
        ]
        times = Counter(r["url_hash"] for r in refetch if r["status"] == "fetched")
        engine = Counter(
            _result_key(r) for r in results
            if not (r["round"] > 0 and r["url_hash"] in slice_keys)
        )
        seen = set(url_hashes(cat.read(self.spark, "seen")).tolist())
        return Counter({
            "replay_rows": sum(((engine - self.expected)
                                + (self.expected - engine)).values()),
            "replay_seen": len(seen ^ self.expected_seen),
            "invalid_fetches": sum(
                1 for r in results if r["status"] == "fetched" and not r["valid"]
            ),
            "refetch_not_once": sum(1 for k in slice_keys if times[k] != 1),
            "refetch_not_fetched": len(refetch) - sum(times.values()),
        })

    def requeue_input(self, cat):
        """A seeded slice of the fetched seed pages in seed shape (the
        seed row the first round fetched: the first in crawl order) at
        priority 1, as a local relation so the timed ``requeue`` does not
        re-run the generator."""
        from pyspark.sql import functions as F

        slice_keys = set(url_hashes(
            cat.read(self.spark, "results").filter(
                (F.col("status") == "fetched")
                & F.col("url").contains("/a/")
                & (F.pmod("url_hash", F.lit(self.shape.requeue_mod)) == 0)
            )
        ).tolist())
        first: dict[int, dict] = {}
        for row in sorted(self.seed_rows, key=_crawl_order):
            key = py_url_hash(py_canonicalize_url(row["url"]))
            if key in slice_keys and key not in first:
                first[key] = {**row, "priority": 1}
        cols = self.seeds.columns
        seeds = self.spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in first.values()],
            schema=self.seeds.schema,
        )
        return slice_keys, seeds

    def check_filters(self, cat) -> Counter:
        """The newest persisted Bloom and cuckoo filters must contain
        every seen key of the manifest version they were saved with."""
        from cex_crawler_spark.operators.seen import BloomFilter64, CuckooFilter64

        misses = Counter()
        for kind in ("bloom", "cuckoo") if self.shape.requeue_mod else ("bloom",):
            version = next(
                (v for v in range(cat.current_version(), 0, -1)
                 if kind in cat.manifest(v)),
                None,
            )
            if version is None:
                misses[f"{kind}_sidecar_missing"] += 1
                continue
            entry = cat.manifest(version)[kind]
            raw = (Path(cat.root) / "_bloom" / entry["file"]).read_bytes()
            if kind == "bloom":
                flt = BloomFilter64(
                    entry["n_expected"], bits=np.frombuffer(raw, np.uint8).copy()
                )
            else:
                flt = CuckooFilter64(
                    entry["n_expected"],
                    table=np.frombuffer(raw, np.uint16)
                    .reshape(entry["n_buckets"], CuckooFilter64.SLOTS).copy(),
                )
            keys = url_hashes(cat.read(self.spark, "seen", version=version))
            misses[f"{kind}_missing_keys"] += int((~flt.might_contain(keys)).sum())
        return misses

    # --------------------------------------------------------- job counts

    def new_jobs(self, group: str) -> list[int]:
        """Ids of the jobs of a job group not yet claimed by a round or
        pass; claims them."""
        tracker = self.spark.sparkContext.statusTracker()
        ids = sorted(set(tracker.getJobIdsForGroup(group)) - self.attributed_jobs)
        self.attributed_jobs.update(ids)
        return ids

    def stage_counts(self, job_ids: list[int]) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        stages = {}
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = tracker.getStageInfo(sid)
                if si and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages[sid] = si
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": sum(s.numCompletedTasks for s in stages.values()),
            "failed_tasks": sum(s.numFailedTasks for s in stages.values()),
        }

    def count_jobs(self, result: PassResult, tag: str) -> None:
        """Jobs, stages and tasks per round (job group ``round-<id>``, the
        jobs started inside ``run_round``) and failed tasks over every job
        of the pass, from the status tracker."""
        _drain_listener_bus(self.spark.sparkContext)
        for r in result.rounds:
            result.round_jobs.append({
                "round": r["round"],
                **self.stage_counts(self.new_jobs(f"round-{r['round']}")),
            })
        rest = []
        for call in ("crawl1", "check", "requeue", "crawl2"):
            rest += self.new_jobs(f"perfbench-{tag}-{call}")
        rest += self.new_jobs("perfbench-trace")
        failed = self.stage_counts(rest)["failed_tasks"] + sum(
            r["failed_tasks"] for r in result.round_jobs
        )
        result.failures["failed_tasks"] = failed


    def warm_up_round(self) -> Counter:
        """One untimed, unchecked crawl round on a catalog of its own.
        The first round in a JVM runs slower than the rest, so a traced
        run warms up before the two passes it compares.  Returns the
        round's failed tasks."""
        from cex_crawler_spark.plans.driver import crawl

        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-warmup", "benchmark warm-up")
        with round_job_groups():
            crawl(
                self.spark, self.catalogs.pop(0), self.policy, WATERMARK,
                max_rounds=1, bloom_expected=self.shape.filter_expected,
                expand=self.shape.expand,
            )
        _drain_listener_bus(sc)
        jobs = self.new_jobs("round-0") + self.new_jobs("perfbench-warmup")
        return Counter(failed_tasks=self.stage_counts(jobs)["failed_tasks"])


def _drain_listener_bus(sc) -> None:
    """Let the status store catch up with the last job's events."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # not reachable through this Spark build: wait
        time.sleep(1.0)
