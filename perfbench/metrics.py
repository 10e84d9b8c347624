"""Arithmetic of the benchmark: latency summaries, and per-layer numbers
from the spans and Spark jobs a traced run records.

Pure functions over plain lists and dicts, so they can be tested alone
(`python3 -m unittest discover perfbench`).
"""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
# A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def pass_time(passes):
    """The time of one pass, in seconds, from passes given as
    {operation: latency ms}: each operation at its median over the
    passes, summed over the operations every pass has. None without
    passes."""
    if not passes:
        return None
    ops = set(passes[0]).intersection(*passes[1:])
    return sum(median([p[op] for p in passes]) for op in ops) / 1000.0


def tail(samples, min_beyond=TAIL_MIN_BEYOND):
    """The highest percentile on TAIL_LADDER with at least `min_beyond`
    samples beyond it, by nearest rank: (percentile, value, samples,
    samples beyond). None when even the median has too few beyond it."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n, n - rank
    return None


def union_us(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, optionally clipped to
    [lo, hi). Overlapping intervals (jobs submitted concurrently) count
    once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Trace:
    """Spans and jobs of one traced run, indexed for subtree queries."""

    def __init__(self, records, cores):
        self.cores = cores
        self.spans = {r["id"]: r for r in records if r["type"] == "span"}
        self.jobs = [r for r in records if r["type"] == "job"]
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_of = {}
        for j in self.jobs:
            self.jobs_of.setdefault(j["span"], []).append(j)

    def root_name(self, s):
        while s["parent"] in self.spans:
            s = self.spans[s["parent"]]
        return s["name"]

    def subset(self, keep_root):
        """The spans (and their jobs) whose root span's name satisfies
        `keep_root`, e.g. only the measured requests."""
        ids = {i for i, s in self.spans.items() if keep_root(self.root_name(s))}
        recs = [dict(s, type="span") for i, s in self.spans.items() if i in ids]
        recs += [dict(j, type="job") for j in self.jobs if j["span"] in ids]
        return Trace(recs, self.cores)

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    def prefixed(self, prefix):
        return [s for s in self.spans.values() if s["name"].startswith(prefix)]

    def wall_us(self, s):
        return s["t1_us"] - s["t0_us"]

    def subtree_jobs(self, s):
        out, todo = [], [s["id"]]
        while todo:
            sid = todo.pop()
            out.extend(self.jobs_of.get(sid, []))
            todo.extend(self.children.get(sid, []))
        return out

    def self_us(self, s):
        """A span's duration minus the part of it its children cover."""
        kids = [self.spans[c] for c in self.children.get(s["id"], [])]
        return self.wall_us(s) - union_us([(k["t0_us"], k["t1_us"]) for k in kids],
                                          s["t0_us"], s["t1_us"])

    def driver_gap_us(self, s):
        """Span time with no Spark job of the span running."""
        jobs = self.subtree_jobs(s)
        return self.wall_us(s) - union_us([(j["t0_us"], j["t1_us"]) for j in jobs],
                                          s["t0_us"], s["t1_us"])

    def spark(self, spans):
        """Spark counters summed over the spans' subtrees."""
        jobs = [j for s in spans for j in self.subtree_jobs(s)]
        wall = sum(self.wall_us(s) for s in spans)
        task_ms = sum(j["task_ms"] for j in jobs)
        return {
            "spans": len(spans),
            "wall_ms": wall / 1000.0,
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "task_ms": task_ms,
            "gc_ms": sum(j["gc_ms"] for j in jobs),
            "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "driver_gap_ms": sum(self.driver_gap_us(s) for s in spans) / 1000.0,
            "parallel_eff": task_ms / (wall / 1000.0 * self.cores) if wall > 0 else 0.0,
        }

    def attr(self, spans, key):
        return sum(s["attrs"].get(key, 0.0) for s in spans)

    def layer_table(self):
        """Self time, span count and Spark counters per layer, a layer
        being the span name's first dotted component."""
        layers = {}
        for s in self.spans.values():
            layer = s["name"].split(".")[0]
            row = layers.setdefault(layer, {"spans": 0, "self_ms": 0.0, "jobs": 0})
            row["spans"] += 1
            row["self_ms"] += self.self_us(s) / 1000.0
            row["jobs"] += len(self.jobs_of.get(s["id"], []))
        return layers


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0
