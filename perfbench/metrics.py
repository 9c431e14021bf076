"""Metric names, units and how each is computed from a run.

End-to-end metrics come from untraced passes; per-layer metrics from the
spans of a traced pass, the status-tracker counts of an untraced pass in
the same run, and the single-layer probes.
"""

from __future__ import annotations

from .spans import Span, Tracer, covered
from .stats import median

END_TO_END = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "disk_bytes_per_url": "B",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "driver.bootstrap_s": "s",
    "driver.resume_s": "s",
    "driver.requeue_s": "s",
    "round.count": "count",
    "round.wall_s": "s",
    "round.self_s": "s",
    "round.jobs": "count",
    "round.stages": "count",
    "round.tasks": "count",
    "round.failed_tasks": "count",
    "seen.anti_join_s": "s",
    "seen.possibly_seen_frac": "ratio",
    "seen.observed_fpp": "ratio",
    "seen.filter_fill": "ratio",
    "seen.filter_update_s": "s",
    "seen.filter_rebuild_s": "s",
    "seen.sidecar_s": "s",
    "seen.sidecar_bytes": "B",
    "seen.bloom_probe_mkeys_per_s": "Mkeys/s",
    "seen.bloom_add_mkeys_per_s": "Mkeys/s",
    "seen.cuckoo_probe_mkeys_per_s": "Mkeys/s",
    "seen.cuckoo_delete_mkeys_per_s": "Mkeys/s",
    "politeness.schedule_s": "s",
    "politeness.rows_in": "count",
    "politeness.scheduled_frac": "ratio",
    "politeness.dup_rows": "count",
    "fetch.validate_s": "s",
    "fetch.rows": "count",
    "fetch.memo_hit_frac": "ratio",
    "fetch.verdicts_per_s": "1/s",
    "fetch.verdict_ms_p50": "ms",
    "fetch.verdict_ms_p95": "ms",
    "fetch.invalid_rows": "count",
    "catalog.commit_s": "s",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "catalog.compact_s": "s",
    "catalog.bytes_rewritten": "B",
    "expand.children_rows": "count",
    "expand.rediscovered_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.self_sum_gap_s": "s",
}

COUNTER_SPAN = "trace.counters"


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class SpanView:
    """Queries over one traced pass's spans."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.spans = tracer.spans
        self.kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                self.kids.setdefault(s.parent, []).append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], list(self.kids.get(span.id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.kids.get(s.id, [])
        return out

    def self_time(self, span: Span) -> float:
        return self.tracer.self_time(span)

    def busy(self, span: Span) -> float:
        """Duration minus the time spent on trace-only counting inside it."""
        counting = [
            (d.start, d.end) for d in self.descendants(span)
            if d.name == COUNTER_SPAN
        ]
        return span.duration - covered(span.start, span.end, counting)

    def inside_rounds(self, name: str) -> list[Span]:
        return [s for s in self.named(name) if s.round is not None]

    def self_sum(self, name: str) -> float:
        return sum(self.self_time(s) for s in self.named(name))

    def counter_sum(self, name: str, key: str) -> float:
        return sum(s.counters.get(key, 0) for s in self.named(name))

    def time_to_first_round(self, call: str) -> float:
        """Time inside a ``crawl()`` call before its first round (filter
        load or rebuild plus the frontier probe), trace counting excluded;
        0 when the workload makes no such call."""
        spans = [
            s for s in self.named("driver.crawl") if s.counters.get("call") == call
        ]
        if not spans:
            return 0.0
        (span,) = spans
        rounds = [d for d in self.descendants(span) if d.name == "round.run_round"]
        end = min((r.start for r in rounds), default=span.end)
        counting = [
            (d.start, d.end) for d in self.descendants(span)
            if d.name == COUNTER_SPAN
        ]
        return (end - span.start) - covered(span.start, end, counting)

    def self_sum_gap(self, calls_s: float) -> float:
        """Distance between the wall time the benchmark measured around
        its ``crawl``/``requeue`` calls and the sum of the self times of
        every span the pass recorded: the time no span covers, plus the
        time spans that overlap instead of nesting would count twice."""
        return abs(calls_s - sum(self.self_time(s) for s in self.spans))


def per_layer(setup: Tracer, traced, untraced, warmup, probes: dict) -> dict:
    """Per-layer metrics from the set-up spans, a traced pass, the
    untraced pass of the same run, the failures of its warm-up round,
    and the single-layer probes."""
    v = SpanView(traced.tracer)
    sv = SpanView(setup)
    rounds = v.named("round.run_round")
    round_stats = traced.rounds
    anti = v.named("seen.anti_join")
    fetch = v.named("fetch.validate")
    links = v.named("expand.links")
    merges = v.named("seen.filter_merge")
    sidecars = v.named("seen.sidecar_save")
    round_commits = [s for s in v.inside_rounds("catalog.commit")]
    rows_in = sum(s.counters["rows_out"] for s in anti)
    jobs = untraced.round_jobs
    m = {
        "session.start_s": sv.named("session.start")[0].duration,
        "driver.bootstrap_s": median([sv.busy(s) for s in sv.named("driver.bootstrap")]),
        "driver.resume_s": v.time_to_first_round("crawl2"),
        "driver.requeue_s": sum(v.busy(s) for s in v.named("driver.requeue")),
        "round.count": len(rounds),
        "round.wall_s": median([v.busy(s) for s in rounds]),
        "round.self_s": median([v.self_time(s) for s in rounds]),
        "round.jobs": median([j["jobs"] for j in jobs]),
        "round.stages": median([j["stages"] for j in jobs]),
        "round.tasks": median([j["tasks"] for j in jobs]),
        "round.failed_tasks": (
            warmup["failed_tasks"] + traced.failures["failed_tasks"]
            + untraced.failures["failed_tasks"]
        ),
        "seen.anti_join_s": v.self_sum("seen.anti_join"),
        "seen.possibly_seen_frac": _ratio(
            v.counter_sum("seen.anti_join", "possibly_seen"),
            v.counter_sum("seen.anti_join", "probed"),
        ),
        "seen.observed_fpp": _ratio(
            v.counter_sum("seen.anti_join", "false_positives"),
            v.counter_sum("seen.anti_join", "truly_new"),
        ),
        "seen.filter_fill": merges[-1].counters["fill"] if merges else 0.0,
        "seen.filter_update_s": sum(
            v.busy(s) for s in v.inside_rounds("seen.filter_build")
            + v.inside_rounds("seen.filter_merge")
        ),
        "seen.filter_rebuild_s": sum(v.busy(s) for s in v.named("seen.filter_rebuild")),
        "seen.sidecar_s": sum(v.busy(s) for s in sidecars),
        "seen.sidecar_bytes": sidecars[-1].counters["bytes"] if sidecars else 0,
        **probes,
        "politeness.schedule_s": v.self_sum("politeness.schedule"),
        "politeness.rows_in": rows_in,
        "politeness.scheduled_frac": _ratio(
            sum(s.get("scheduled", 0) for s in round_stats), rows_in
        ),
        "politeness.dup_rows": sum(s.get("dup_skipped", 0) for s in round_stats),
        "fetch.validate_s": v.self_sum("fetch.validate"),
        "fetch.rows": sum(s.counters["rows"] for s in fetch),
        "fetch.memo_hit_frac": 1.0 - _ratio(
            sum(s.counters["distinct_ids"] for s in fetch),
            sum(s.counters["rows"] for s in fetch),
        ) if fetch else 0.0,
        "fetch.invalid_rows": sum(s.counters["invalid"] for s in fetch),
        "catalog.commit_s": sum(v.self_time(s) for s in round_commits),
        "catalog.bytes_written": sum(s.counters["bytes_written"] for s in round_commits),
        "catalog.files_written": sum(s.counters["files_written"] for s in round_commits),
        "catalog.compact_s": sum(v.busy(s) for s in v.named("catalog.compact")),
        "catalog.bytes_rewritten": v.counter_sum("catalog.compact", "bytes_rewritten"),
        "expand.children_rows": sum(s.counters["rows"] for s in links),
        "expand.rediscovered_frac": 1.0 - _ratio(
            sum(s.counters["new_keys"] for s in links),
            sum(s.counters["rows"] for s in links),
        ) if links else 0.0,
        "trace.overhead_frac": 1.0 - traced.urls_per_s / untraced.urls_per_s,
        "trace.self_sum_gap_s": v.self_sum_gap(traced.calls_s),
    }
    return m
