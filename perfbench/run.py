"""Crawl-frontier benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints progress on stderr and, as the
last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Spans and per-round job
counts of a traced run are written under ``.bench_build/perfbench/``;
everything else a run writes lives in a temp dir there that is deleted
at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _vm_hwm_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: int, traced: bool) -> dict:
    from perfbench import metrics, probes
    from perfbench.inputs import SHAPES
    from perfbench.stats import median
    from perfbench.workload import CrawlRun

    OUT.mkdir(parents=True, exist_ok=True)
    workdir = Path(tempfile.mkdtemp(prefix="run-", dir=OUT))
    os.environ["TMPDIR"] = str(workdir)
    tempfile.tempdir = str(workdir)
    bench = CrawlRun(SHAPES[workload], seed, workdir, traced)
    spark = None
    try:
        _log(f"{workload} seed={seed} trace={int(traced)}: starting session")
        bench.start_session()
        spark = bench.spark
        bench.warm_up()
        _log("bootstrapping catalogs")
        bench.bootstrap_catalogs()
        setup_s = bench.session_s + bench.warmup_s + median(bench.bootstrap_s)
        _log(f"set-up {setup_s:.2f}s; replaying the expected crawl")
        t0 = time.perf_counter()
        bench.replay()
        _log(f"replay {time.perf_counter() - t0:.2f}s")

        passes = []
        warmup = Counter()
        if traced:
            # the traced pass is compared with the untraced pass that
            # follows it, both after a warm-up round
            warmup = bench.warm_up_round()
            for trace_pass in (True, False):
                passes.append(bench.run_pass(traced=trace_pass))
        else:
            # passes until the timed calls add up to --seconds (at least one)
            while not passes or (
                bench.catalogs and sum(p.calls_s for p in passes) < seconds
            ):
                passes.append(bench.run_pass(traced=False))
        for p in passes:
            _log(f"{p.tag}: {p.urls} urls in {p.calls_s:.2f}s, "
                 f"{len(p.rounds)} rounds, failures {dict(p.failures)}")

        if traced:
            traced_pass, untraced = passes
            values = metrics.per_layer(
                bench.setup_tracer, traced_pass, untraced, warmup,
                {**probes.filter_rates(seed), **probes.fetch_verdicts(seed),
                 "session.peak_rss_mb": _peak_rss_mb(spark)},
            )
            units = metrics.PER_LAYER
            dump = OUT / f"trace-{workload}-{bench.label}.jsonl"
            with open(dump, "w") as f:
                for row in bench.setup_tracer.rows() + traced_pass.tracer.rows():
                    f.write(json.dumps(row, default=str) + "\n")
                f.write(json.dumps({"round_jobs": untraced.round_jobs}) + "\n")
            _log(f"spans written to {dump.relative_to(ROOT)}")
        else:
            values = {
                "setup_s": setup_s,
                "urls_per_s": median([p.urls_per_s for p in passes]),
                "disk_bytes_per_url": median(
                    [p.disk_bytes / p.urls for p in passes]
                ),
            }
            units = metrics.END_TO_END
        attempted = sum(p.urls for p in passes)
        failed = min(attempted, sum(warmup.values()) + sum(
            sum(p.failures.values()) for p in passes
        ))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": values[k], "unit": u} for k, u in units.items()
            },
        }
    finally:
        _log("stopping")
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        _log("stopped")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in ("cex_crawler_spark/plans/driver.py", "cex_crawler_spark/replayer.py")
        if not (ROOT / p).is_file()
    ]
    if missing:
        print(f"perfbench: engine sources not found: {', '.join(missing)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.inputs import SHAPES

    if args.workload not in SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(SHAPES)}", file=sys.stderr)
        return 2
    if args.seed < 0 or args.seconds < 1:
        print("perfbench: --seed must be >= 0 and --seconds >= 1", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
