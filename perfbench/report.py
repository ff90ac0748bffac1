"""Per-layer report from a traced run: spans plus the Spark jobs each
span submitted. Pure functions over the JVM's result.json records."""
import statistics

# (layer, workload that exercises it); every other workload bypasses it
LAYERS = [
    ("compactor.full", "smallfile_compact"),
    ("compactor.incremental", "smallfile_compact"),
    ("compactor.noop", "smallfile_compact"),
    ("compactor.text", "smallfile_compact"),
    ("flush_stream.drain", "smallfile_compact"),
    ("compactor.optimize", "day_loop"),
    ("compactor.maintain", "day_loop"),
    ("compactor.lookup", "day_loop"),
    ("incremental_pipeline.bootstrap", "day_loop"),
    ("incremental_pipeline.day", "day_loop"),
    ("corpus_pipeline.run", "day_loop"),
]
COUNTERS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("exec_run_s", "s"), ("shuffle_bytes", "B")]
EXTRAS = [
    ("compactor.lookup.files_touched_ratio", "ratio", "lower"),
    ("compactor.maintain.rewritten_ratio", "ratio", "lower"),
    ("compactor.incremental.files_read_per_new", "ratio", "lower"),
    ("spark.busy_share", "ratio", "higher"),
    ("caches.live_after_day", "count", "lower"),
    ("day_loop.jobs_per_day", "count", "lower"),
    ("smallfile_compact.jobs_per_pass", "count", "lower"),
]
PASS_LAYERS = ("compactor.full", "compactor.incremental", "compactor.noop", "compactor.text")


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def union_len(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Trace:
    """Spans (times in epoch microseconds) and jobs (epoch milliseconds)
    with each job attributed to the span whose id it carried. When that
    span had closed (a pooled thread kept a stale id) or the job carried
    none, the job goes to the innermost span open at its start, which is
    exact because both workloads drive the library from one client.
    Jobs in no span are counted if they started in the measuring window."""

    def __init__(self, spans, jobs, window):
        self.spans = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.own = {}
        self.unattributed = 0
        for j in jobs:
            sid = self._attribute(j)
            if sid:
                self.own.setdefault(sid, []).append(j)
            elif window[0] <= j["start_ms"] * 1000 <= window[1]:
                self.unattributed += 1

    def _attribute(self, job):
        t = job["start_ms"] * 1000
        s = self.spans.get(job["span"])
        if s and s["start_us"] - 1000 <= t <= s["end_us"] + 1000:
            return s["id"]
        open_ = [x for x in self.spans.values() if x["start_us"] <= t <= x["end_us"]]
        return max(open_, key=lambda x: x["start_us"])["id"] if open_ else 0

    def subtree_jobs(self, sid):
        out = list(self.own.get(sid, []))
        for c in self.children.get(sid, []):
            out += self.subtree_jobs(c)
        return out

    def wall_s(self, sid):
        s = self.spans[sid]
        return (s["end_us"] - s["start_us"]) / 1e6

    def self_s(self, sid):
        """Span wall minus the part its child spans cover."""
        kids = [(self.spans[c]["start_us"], self.spans[c]["end_us"])
                for c in self.children.get(sid, [])]
        return self.wall_s(sid) - union_len(kids) / 1e6

    def driver_s(self, sid):
        """Span wall minus the time its own (subtree) Spark jobs ran."""
        s = self.spans[sid]
        ivs = [(max(j["start_ms"] * 1000, s["start_us"]), min(j["end_ms"] * 1000, s["end_us"]))
               for j in self.subtree_jobs(sid)]
        return self.wall_s(sid) - union_len([iv for iv in ivs if iv[1] > iv[0]]) / 1e6

    def call(self, sid):
        jobs = self.subtree_jobs(sid)
        return {"wall_s": self.wall_s(sid), "self_s": self.self_s(sid),
                "driver_s": self.driver_s(sid), "jobs": len(jobs),
                "tasks": sum(j["tasks"] for j in jobs),
                "exec_run_s": sum(j["exec_run_ms"] for j in jobs) / 1e3,
                "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
                "records_read": sum(j["records_read"] for j in jobs)}

    def calls(self, name):
        return [(s, self.call(s["id"])) for s in self.spans.values() if s["name"] == name]


def per_layer(result, cores):
    """Every per-layer metric, as {name: (value, unit)}. A layer the
    workload bypasses reports zeros."""
    t0, t1 = result["measure_start_us"], result["measure_end_us"]
    tr = Trace(result["spans"], result["jobs"], (t0, t1))
    out = {}
    for layer, _ in LAYERS:
        calls = [c for _, c in tr.calls(layer)]
        for k, unit in COUNTERS:
            out[f"{layer}.{k}"] = (float(median(c[k] for c in calls)), unit)

    days = result.get("days", [])
    out["compactor.lookup.files_touched_ratio"] = median(
        d["files_touched_ratio"] for d in days if "files_touched_ratio" in d)
    out["compactor.maintain.rewritten_ratio"] = median(
        len(d["rewritten"]) / d["partitions"] for d in days if d.get("partitions"))
    out["compactor.incremental.files_read_per_new"] = median(
        c["records_read"] / s["attrs"]["new_files"]
        for s, c in tr.calls("compactor.incremental") if s["attrs"].get("new_files"))
    busy = sum(j["exec_run_ms"] for j in result["jobs"]
               if t0 <= j["start_ms"] * 1000 <= t1) / 1e3
    out["spark.busy_share"] = busy / ((t1 - t0) / 1e6 * cores)
    units = days or result.get("cycles", [])
    out["caches.live_after_day"] = median(u["cache_live"] for u in units)
    out["day_loop.jobs_per_day"] = median(c["jobs"] for _, c in tr.calls("day_loop.day"))
    out["smallfile_compact.jobs_per_pass"] = median(
        c["jobs"] for layer in PASS_LAYERS for _, c in tr.calls(layer))
    units_of = {name: unit for name, unit, _ in EXTRAS}
    for name in units_of:
        out[name] = (float(out[name]), units_of[name])
    return out, tr


def layer_table(tr):
    """Human-readable rows: every span name with its median self time."""
    rows = []
    for name in sorted({s["name"] for s in tr.spans.values()}):
        calls = [c for _, c in tr.calls(name)]
        rows.append(f"  {name:34s} calls={len(calls):4d} wall={median(c['wall_s'] for c in calls):8.4f}s "
                    f"self={median(c['self_s'] for c in calls):8.4f}s "
                    f"driver={median(c['driver_s'] for c in calls):8.4f}s "
                    f"jobs={median(c['jobs'] for c in calls):6.1f}")
    rows.append(f"  unattributed jobs: {tr.unattributed}")
    return rows
