"""Arithmetic of the flow benchmark: medians and quartiles of iteration
samples, and the per-layer numbers derived from a traced run's spans,
jobs and tasks (times in epoch milliseconds, as Spark reports them).

A span is one benchmark-side call into a module of the program. Every
Spark job carries the id of the innermost span open when it started (its
job group), and every task carries its stage's group, so a span's jobs and
tasks are those whose group is the span or one of its descendants.
"""
import statistics

# Spans the traced runs open, by workload (the first six are the spec
# lifecycle's calls; DailyIngest/LLMQueries come from the ingest chain the
# spec_lifecycle traced run drives; the last four from release_build).
SPANS = [
    "SpecPipeline.ingestValidation", "sinks.writeJsonl",
    "StateMachine.pollDispatch", "StateMachine.ledgerAfterPoll",
    "SpecPipeline.flagshipResults", "sinks.bucketedUpsert",
    "DailyIngest.runDelta", "DailyIngest.runAssets",
    "DailyIngest.runVectors", "DailyIngest.foldDelta",
    "LLMQueries.signatureTables", "DailyIngest.dispositionOf",
    "ReleaseBuild.runOn", "CurationQueries.funnelDispositionOf",
    "VectorQueries.keptVectorsOf", "multimodal.keptAssetsOf",
]
# (measure, unit, better)
MEASURES = [
    ("wall_s", "s", "lower"), ("cpu_s", "s", "lower"),
    ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("shuffle_mb", "MB", "lower"), ("idle_s", "s", "lower"),
]
# per-layer scalars that are not span measures: name -> (unit, better)
SCALARS = {
    "Materialize.jobs": ("count", "lower"),
    "Materialize.wall_s": ("s", "lower"),
    "spark.cpu_per_wall": ("ratio", "higher"),
    "spark.tasks_per_job": ("count", "higher"),
    "IndexStore.delta_mb_per_day": ("MB", "lower"),
    "IndexStore.delta_files_read_last_day": ("count", "lower"),
    "DailyIngest.foldDelta.mb_rewritten": ("MB", "lower"),
    "DailyIngest.day_last_over_first": ("ratio", "lower"),
    "SpecPipeline.valid_ratio": ("ratio", "higher"),
    "sinks.bucketedUpsert.buckets_touched_ratio": ("ratio", "lower"),
    "DailyIngest.kept_ratio": ("ratio", "higher"),
    "ReleaseBuild.kept_ratio": ("ratio", "higher"),
    "trace.flow_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
MATERIALIZE_SITE = "Materialize.scala"


def per_layer_names():
    """Every per-layer metric as (name, unit, better), in report order."""
    out = [(f"{s}.{m}", u, b) for s in SPANS for m, u, b in MEASURES]
    return out + [(n, u, b) for n, (u, b) in SCALARS.items()]


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them; a single
    sample is its own quartiles."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def union_length(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(start, end, children):
    """A span's own time: its length minus the part of it that its
    children (spans or jobs, possibly overlapping) cover."""
    return (end - start) - union_length(clip(children, start, end))


class Trace:
    """Index over one traced run's spans, jobs and tasks."""

    def __init__(self, trace):
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.children = {}
        for s in trace["spans"]:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_by_group, self.tasks_by_group = {}, {}
        for j in trace["jobs"]:
            self.jobs_by_group.setdefault(j["group"], []).append(j)
        for t in trace["tasks"]:
            self.tasks_by_group.setdefault(t["group"], []).append(t)

    def subtree(self, span_id):
        out, todo = [], [span_id]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def jobs(self, span_id):
        return [j for s in self.subtree(span_id)
                for j in self.jobs_by_group.get(str(s), [])]

    def tasks(self, span_id):
        return [t for s in self.subtree(span_id)
                for t in self.tasks_by_group.get(str(s), [])]

    def measures(self, span_id):
        s = self.spans[span_id]
        start, end = s["start"], s["end"]
        tasks = self.tasks(span_id)
        busy = union_length(clip([(t["launch"], t["finish"]) for t in tasks],
                                 start, end))
        return {
            "wall_s": (end - start) / 1e3,
            "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "jobs": len(self.jobs(span_id)),
            "tasks": len(tasks),
            "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6,
            "idle_s": ((end - start) - busy) / 1e3,
        }

    def self_s(self, span_id):
        s = self.spans[span_id]
        kids = [(self.spans[c]["start"], self.spans[c]["end"])
                for c in self.children.get(span_id, [])]
        kids += [(j["start"], j["end"])
                 for j in self.jobs_by_group.get(str(span_id), [])]
        return self_time(s["start"], s["end"], kids) / 1e3

    def named(self, name):
        return [i for i, s in self.spans.items() if s["name"] == name]

    def site_jobs(self, span_id, site):
        """Jobs under the span whose call site is in the given file."""
        return [j for j in self.jobs(span_id) if site in j["site"]]


def per_layer(trace, iterations, extra):
    """Every per-layer metric of a traced run. A span that occurs several
    times reports the median of its occurrences; a layer this workload
    never calls reports 0."""
    t = Trace(trace)
    out = {}
    for name in SPANS:
        occ = [t.measures(i) for i in t.named(name)]
        for m, _, _ in MEASURES:
            out[f"{name}.{m}"] = median([o[m] for o in occ]) if occ else 0.0
    flows = t.named("flow")

    def over_flows(f):
        return median([f(i) for i in flows]) if flows else 0.0

    def mat_wall(i):
        jobs = t.site_jobs(i, MATERIALIZE_SITE)
        return union_length([(j["start"], j["end"]) for j in jobs]) / 1e3

    out["Materialize.jobs"] = over_flows(
        lambda i: len(t.site_jobs(i, MATERIALIZE_SITE)))
    out["Materialize.wall_s"] = over_flows(mat_wall)
    out["spark.cpu_per_wall"] = over_flows(
        lambda i: t.measures(i)["cpu_s"] / t.measures(i)["wall_s"])
    out["spark.tasks_per_job"] = over_flows(
        lambda i: t.measures(i)["tasks"] / max(t.measures(i)["jobs"], 1))
    traced = [it["wall_s"] for it in iterations if it["traced"]]
    plain = [it["wall_s"] for it in iterations if not it["traced"]]
    out["trace.flow_s"] = median(traced) if traced else 0.0
    out["trace.overhead_s"] = (median(traced) - median(plain)
                               if traced and plain else 0.0)
    for name in SCALARS:
        if name in extra:
            out[name] = extra[name]
        out.setdefault(name, 0.0)
    return out


def span_report(trace):
    """Every span with its measures and self time, for the trace file."""
    t = Trace(trace)
    return [dict(name=s["name"], id=i, parent=s["parent"], iter=s["iter"],
                 self_s=t.self_s(i), **t.measures(i))
            for i, s in sorted(t.spans.items())]
