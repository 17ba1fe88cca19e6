"""End-to-end and per-layer metrics, derived from a run's records.

Names here are the names in BENCHMARK.json; METRICS.md says which
end-to-end metric each per-layer metric should move, on which workload.
"""

import bisect
import math
from collections import defaultdict

from stats import MIN_BEYOND, mean, median, percentile

MODULES = ["operators", "dedup", "similarity", "graph", "text", "multimodal"]
MODULE_FIELDS = ["wall_s", "jobs", "tasks", "driver_gap_s", "task_cpu_s",
                 "gc_s", "shuffle_write_mb", "spill_mb", "leaked_rdds"]
INGESTS = ["dedup", "ann", "mv", "cdc", "dsir"]
# StreamingQueryProgress.durationMs entries, per micro-batch
PROGRESS = {"add_batch_s": "addBatch", "get_batch_s": "getBatch",
            "query_planning_s": "queryPlanning", "wal_commit_s": "walCommit",
            "commit_offsets_s": "commitOffsets"}
INGEST_FIELDS = ["batch_mean_s", "seed_s", "jobs_per_batch"] + list(PROGRESS)
# a run makes a few produce calls and polls: means, not percentiles
EVENTLOG_FIELDS = ["produce_mean_s", "poll_mean_s", "hwm_mean_s", "committed_mean_s",
                   "jobs_per_produce", "jobs_per_poll", "topic_files",
                   "lag_max_msgs", "generator_late_s", "replay_msgs_per_s"]
HARNESS = ["core.session_s", "core.table_touch_s", "harness.cleanup_s", "harness.samples",
           "jvm.peak_rss_mb"]

END_TO_END = {"setup_s": "s", "bulk_s": "s", "latency_s": "s"}


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    units = {}
    for m in MODULES:
        for f in MODULE_FIELDS:
            units[f"{m}.{f}"] = unit_of(f)
    for n in HARNESS:
        units[n] = unit_of(n)
    for f in EVENTLOG_FIELDS:
        units[f"eventlog.{f}"] = unit_of(f)
    for i in INGESTS:
        for f in INGEST_FIELDS:
            units[f"ingest.{i}.{f}"] = unit_of(f)
    return units


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def seconds(span):
    return (span["end"] - span["start"]) / 1e9


def by_kind(records):
    out = defaultdict(list)
    for r in records:
        out[r["t"]].append(r)
    return out


def samples(workload, rec, delivered):
    """The per-operation latencies (s) behind ``latency_s``, by kind of
    operation: each key's timed runs (batch), each ingest's micro-batches
    (ingest), and one kind for the event log, every message's delay from
    its arrival to its handler in the live group."""
    kinds = defaultdict(list)
    if workload == "batch":
        for r in rec["op"]:
            kinds[r["key"]].append((r["end"] - r["start"]) / 1e9)
    elif workload == "eventlog":
        kinds["deliver"] = [(recv - arrived) / 1e9 for g, _, _, _, arrived, recv in delivered
                            if g == "myGroup"]
    else:
        for r in rec["batch"]:
            kinds[r["ingest"]].append((r["end"] - r["start"]) / 1e9)
    return kinds


def latency(kinds):
    """The geometric mean, over the kinds of operation, of each kind's
    median latency. Every kind weighs the same whatever its size (as in
    TPC-H's power metric), and the result does not jump between kinds as
    the median of the pooled samples does when two kinds lie close."""
    meds = [percentile(v, 0.5) if len(v) >= 2 * MIN_BEYOND else median(v)
            for v in kinds.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def bulk(workload, rec):
    """The workload's bulk work: one pass over its keys (the sum of each
    key's median time), the replay of the whole topic (median of three
    groups), or the seeding of the five stores."""
    if workload == "batch":
        return sum(median(v) for v in samples(workload, rec, []).values())
    if workload == "eventlog":
        return median([seconds(r) for r in rec["replay"]])
    return sum(seconds(r) for r in rec["seed"])


def backlog_max(produced, delivered):
    """The most messages appended but not yet delivered to the live group,
    taken as each append completes."""
    recv = sorted(d[5] for d in delivered if d[0] == "myGroup")
    appended, worst = 0, 0
    for p in sorted(produced, key=lambda r: r["end"]):
        appended += p["n"]
        worst = max(worst, appended - bisect.bisect_right(recv, p["end"]))
    return worst


def end_to_end(workload, rec, delivered):
    return {
        "setup_s": median([seconds(r) for r in rec["setup"]]),
        "bulk_s": bulk(workload, rec),
        "latency_s": latency(samples(workload, rec, delivered)),
    }


class Attribution:
    """Spark jobs of a traced run, attributed to spans: to the span id the
    job carried if the job started inside that span, else to the innermost
    span open when it started. The second case is a streaming query's own
    thread, which carries the span that was open when the query started."""

    def __init__(self, spans, jobs):
        self.spans = {s["id"]: s for s in spans}
        self.children = defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s["id"])
        self.jobs = defaultdict(list)
        for j in jobs:
            t = j["start_ms"] * 1e6
            own = self.spans.get(j["span"])
            # job times are whole milliseconds
            inside = own and own["start"] - 1e6 <= t <= own["end"]
            sid = j["span"] if inside else self._innermost(t)
            if sid is not None:
                self.jobs[sid].append(j)

    def _innermost(self, t):
        best = None
        for s in self.spans.values():
            if s["start"] <= t <= s["end"] and (best is None or seconds(s) < seconds(best)):
                best = s
        return best["id"] if best else None

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children[x])
        return out

    def jobs_under(self, sid):
        return [j for x in self.subtree(sid) for j in self.jobs[x]]

    def driver_gap(self, sid):
        """Span time during which none of its jobs was running."""
        s = self.spans[sid]
        lo, hi = s["start"] / 1e6, s["end"] / 1e6
        ivs = sorted((max(lo, j["start_ms"]), min(hi, j["end_ms"] if j["end_ms"] > 0 else hi))
                     for j in self.jobs_under(sid))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(0.0, (hi - lo) - covered) / 1e3


def per_layer(workload, rec, delivered):
    spans, att = rec["span"], Attribution(rec["span"], rec["job"])
    # the spans inside the timed phase
    timed = {x for s in spans if s["name"] == "measure" for x in att.subtree(s["id"])}
    passes = max(1, len({r["pass"] for r in rec["op"]}))
    out = {name: 0.0 for name in per_layer_units()}

    leaked = defaultdict(int)
    for r in rec["op"]:
        leaked[r["module"]] += r["leaked_rdds"]
    for m in MODULES:
        ids = [s["id"] for s in spans if s["layer"] == m and s["id"] in timed]
        jobs = [j for sid in ids for j in att.jobs_under(sid)]
        vals = {
            "wall_s": sum(seconds(att.spans[i]) for i in ids),
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "driver_gap_s": sum(att.driver_gap(i) for i in ids),
            "task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
            "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
            "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / 2**20,
            "spill_mb": sum(j["spill_bytes"] for j in jobs) / 2**20,
            "leaked_rdds": leaked[m],
        }
        for f, v in vals.items():
            out[f"{m}.{f}"] = v / passes

    out["core.session_s"] = median([seconds(s) for s in spans if s["name"] == "session"])
    out["core.table_touch_s"] = median([seconds(s) for s in spans if s["name"] == "table_touch"])
    out["harness.cleanup_s"] = sum(seconds(s) for s in spans
                                   if s["name"] == "cleanup" and s["id"] in timed) / passes
    out["harness.samples"] = sum(len(v) for v in samples(workload, rec, delivered).values())
    out["jvm.peak_rss_mb"] = rec["rss"][-1]["peak_mb"]

    if workload == "eventlog":
        def timed_spans(name):
            return [s for s in spans if s["name"] == name and s["layer"] == "eventlog"
                    and s["id"] in timed]
        def mean_s(name):
            return mean(seconds(s) for s in timed_spans(name))
        def jobs_per(name):
            ss = timed_spans(name)
            return sum(len(att.jobs_under(s["id"])) for s in ss) / max(1, len(ss))
        replayed = sum(1 for d in delivered if d[0].startswith("replay"))
        out.update({
            "eventlog.produce_mean_s": mean_s("produce"),
            "eventlog.poll_mean_s": mean_s("poll"),
            "eventlog.hwm_mean_s": mean_s("hwm"),
            "eventlog.committed_mean_s": mean_s("committed"),
            "eventlog.jobs_per_produce": jobs_per("produce"),
            "eventlog.jobs_per_poll": jobs_per("poll"),
            "eventlog.topic_files": rec["topic"][-1]["files"],
            "eventlog.lag_max_msgs": backlog_max(rec["produce"], delivered),
            "eventlog.generator_late_s": max((r["start"] - r["due"]) / 1e9 for r in rec["produce"]),
            "eventlog.replay_msgs_per_s": replayed / sum(seconds(r) for r in rec["replay"]),
        })

    if workload == "ingest":
        for name in INGESTS:
            batches = [r for r in rec["batch"] if r["ingest"] == name]
            bspans = [s for s in spans if s["layer"] == f"ingest.{name}" and s["name"] == "batch"
                      and s["id"] in timed]
            pre = f"ingest.{name}."
            out[pre + "batch_mean_s"] = mean(seconds(r) for r in batches)
            out[pre + "seed_s"] = sum(seconds(r) for r in rec["seed"] if r["ingest"] == name)
            out[pre + "jobs_per_batch"] = mean(len(att.jobs_under(s["id"])) for s in bspans)
            for f, key in PROGRESS.items():
                out[pre + f] = mean(r["duration_ms"].get(key, 0) / 1e3 for r in batches)
    return out
