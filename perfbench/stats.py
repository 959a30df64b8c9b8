"""Arithmetic of the benchmark: percentiles, span self time, driver gap,
failed-op accounting, and the metrics derived from one run record.

The JVM side (perfbench/src) only measures and checks; every number the
benchmark reports is computed here from the raw record, so the rules below
are the single definition of each metric (see METRICS.md).
"""
import math
import statistics

# Percentiles considered for a tail; the reported one is the highest that
# leaves at least MIN_BEYOND samples above it.
LADDER = (90.0, 99.0, 99.9, 99.99, 99.999)
MIN_BEYOND = 10

LAYERS = ("ingest", "graph", "tables", "query", "algo", "state", "pipeline")


# --- percentiles -----------------------------------------------------------

def _rank(p, n):
    """1-based nearest rank of the p-th percentile among n samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def nearest_rank(sorted_values, p):
    """The p-th percentile by the nearest-rank rule."""
    return sorted_values[_rank(p, len(sorted_values)) - 1]


def tail_percentile(n, min_beyond=MIN_BEYOND):
    """Highest percentile of LADDER with at least `min_beyond` of `n`
    samples ranked above it, or None when even the first has too few."""
    best = None
    for p in LADDER:
        if n - _rank(p, n) >= min_beyond:
            best = p
    return best


def summarize(values):
    """Median, the supported tail percentile, and the sample count."""
    xs = sorted(values)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None,
           "tail_p": None, "tail": None}
    p = tail_percentile(len(xs))
    if p is not None:
        out["tail_p"], out["tail"] = p, nearest_rank(xs, p)
    return out


def percentile_label(p):
    return "p" + ("%g" % p).replace(".", "_")


# --- intervals, self time, driver gap --------------------------------------

def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """span id -> its duration minus the part of it covered by its
    children (children may overlap each other)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_length(
        clip(children.get(s["id"], []), s["start_ms"], s["end_ms"])) for s in spans}


def layer_of(span_name):
    return span_name.split(".", 1)[0]


def layer_self_ms(spans):
    """layer -> summed self time of its spans."""
    out = {}
    selfs = self_times(spans)
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + selfs[s["id"]]
    return out


def driver_gap(start, end, stage_intervals):
    """Time in [start, end] during which no stage was running: the driver
    planning, collecting or waiting between actions."""
    return (end - start) - union_length(clip(stage_intervals, start, end))


# --- failed-op accounting ---------------------------------------------------

def op_accounting(ops, checks):
    """(attempted, failed): every timed op and every standalone check is an
    attempt; one that raised or returned a wrong output is a failure."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def ok_ms(ops, kind, section):
    """Latencies of the successful ops of one kind; failed ops carry no
    timing and are left out."""
    return [o["ms"] for o in ops if o["kind"] == kind and o["section"] == section and o["ok"]]


# --- metrics of one run record ---------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else None


def _notes(ops, kind, section, key, ok_only=True):
    return [o[key] for o in ops if o["kind"] == kind and o["section"] == section
            and (o["ok"] or not ok_only) and key in o]


def pass_ms(ops, section, kinds=None):
    """Wall of each pass, summed over its ops of `kinds` (all of them when
    None); a pass in which one of those ops failed has no wall."""
    by_pass = {}
    for o in ops:
        if o["section"] == section and (kinds is None or o["kind"] in kinds):
            by_pass.setdefault(o["pass"], []).append(o)
    return [sum(o["ms"] for o in it) for it in by_pass.values() if all(o["ok"] for o in it)]


def _rate(items, walls_ms):
    """Median over passes of items per second."""
    return _median([items / (ms / 1000.0) for ms in walls_ms if ms > 0])


GRAPH_OPS = ("pagerank", "pagerank_committed", "cc", "bfs", "triangles")
LADDER_OPS = ("exact", "lsh_pairs", "canonicalize", "keep")


def named_metrics(rec, section):
    """The workload's own end-to-end figures, by the names used in METRICS.md:
    name -> (value, unit, sample count)."""
    ops, sizes, w = rec["ops"], rec["sizes"], rec["workload"]
    out = {}
    if w == "links":
        walls = pass_ms(ops, section, ("convert",))
        out["etl_pages_per_s"] = (_rate(sizes["pages"], walls), "pages/s", len(walls))
        s = summarize(ok_ms(ops, "route", section))
        out["route_p50_ms"] = (s["p50"], "ms", s["n"])
        if s["tail_p"] is not None:
            out["route_%s_ms" % percentile_label(s["tail_p"])] = (s["tail"], "ms", s["n"])
        dist = ok_ms(ops, "route_dist", section)
        out["route_dist_p50_ms"] = (_median(dist), "ms", len(dist))
    elif w == "batch":
        edges = sizes["edges"]
        for kind, name in (("pagerank", "pagerank_edges_per_s"),
                           ("pagerank_committed", "pagerank_committed_edges_per_s")):
            steps = steady_steps(ops, kind, section)
            out[name] = (_rate(edges, [_median(steps)] if steps else []), "edges/s", len(steps))
        for kind in ("cc", "bfs", "triangles"):
            ms = ok_ms(ops, kind, section)
            out[kind + "_s"] = (_median(ms) / 1000.0 if ms else None, "s", len(ms))
        walls = pass_ms(ops, section, LADDER_OPS)
        out["dedup_docs_per_s"] = (_rate(sizes["docs"], walls), "docs/s", len(walls))
    return out


def steady_steps(ops, kind, section):
    """Superstep walls of each successful run of an iterative op, without
    its first superstep, which also pays the run's JIT and cache warm-up."""
    return [x for xs in _notes(ops, kind, section, "steps_ms") for x in xs[1:]]


def setup_seconds(rec):
    """Median of the run's repeated set-up."""
    return _median(rec["setup"]["prepare_s"])


def end_to_end(rec, section):
    """The metrics every workload reports under the same names, each a
    median over the section's passes: throughput_per_s is the bulk work rate
    (pages per second of convert on links; edge-table rows per second over
    the five graph operator calls on batch) and pass_s the wall of one full
    pass over the timed sequence."""
    ops = rec["ops"]
    if rec["workload"] == "links":
        throughput = named_metrics(rec, section)["etl_pages_per_s"][0]
    else:
        throughput = _rate(rec["sizes"]["edges"] * len(GRAPH_OPS), pass_ms(ops, section, GRAPH_OPS))
    passes = pass_ms(ops, section)
    return {"setup_s": (setup_seconds(rec), "s"),
            "throughput_per_s": (throughput, "1/s"),
            "pass_s": (_median(passes) / 1000.0 if passes else None, "s")}


# --- per-layer metrics of a traced run --------------------------------------

# (name, unit). A metric whose layer the workload never calls reads 0.
PER_LAYER = (
    [(l + ".self_s", "s") for l in LAYERS] + [
        ("ingest.extract_s", "s"), ("ingest.raw_links", "count"),
        ("graph.build_s", "s"), ("graph.dictionary_s", "s"), ("graph.build_jobs", "count"),
        ("graph.build_shuffle_bytes", "bytes"), ("graph.pages", "count"),
        ("graph.edges", "count"), ("graph.dangling_links", "count"),
        ("tables.commit_s", "s"), ("tables.files", "count"), ("tables.write_amp", "ratio"),
        ("tables.open_s", "s"),
        ("query.cache_build_s", "s"), ("query.route_hops_mean", "hops"),
        ("query.noroute_ratio", "ratio"), ("query.route_dist_jobs", "count"),
        ("query.route_dist_driver_gap_ms", "ms"),
        ("algo.pagerank_step_p50_s", "s"), ("algo.pagerank_step_max_s", "s"),
        ("algo.pagerank_shuffle_bytes_per_step", "bytes"), ("algo.cc_rounds", "count"),
        ("algo.cc_shuffle_bytes", "bytes"), ("algo.bfs_levels", "count"),
        ("algo.bfs_driver_gap_s", "s"), ("algo.triangles_shuffle_bytes", "bytes"),
        ("algo.triangles_spill_bytes", "bytes"), ("algo.triangles_task_skew", "ratio"),
        ("state.commit_step_p50_s", "s"), ("state.bytes_per_step", "bytes"),
        ("pipeline.exact_s", "s"), ("pipeline.lsh_pairs_s", "s"),
        ("pipeline.canonicalize_s", "s"), ("pipeline.lsh_shuffle_bytes", "bytes"),
        ("pipeline.precision", "ratio"), ("pipeline.planted_recall", "ratio"),
        ("spark.jobs", "count"), ("spark.driver_gap_s", "s"), ("spark.spill_bytes", "bytes"),
        ("trace.overhead_throughput_per_s", "1/s"), ("trace.overhead_pass_s", "s"),
    ])


class Trace:
    """Spans, jobs and stages of one traced run, with attribution of every
    job and stage to the spans that enclose it."""

    def __init__(self, rec):
        self.spans = rec.get("spans", [])
        self.parent = {s["id"]: s["parent"] for s in self.spans}
        self.jobs = rec.get("jobs", [])
        self.stages = rec.get("stages", [])
        self.stage_intervals = [(s["submit_ms"], s["complete_ms"]) for s in self.stages
                                if s["submit_ms"] and s["complete_ms"]]

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def _within(self, span_id, target):
        while span_id:
            if span_id == target:
                return True
            span_id = self.parent.get(span_id, 0)
        return False

    def jobs_in(self, span):
        return [j for j in self.jobs if self._within(j["span"], span["id"])]

    def stages_in(self, span):
        return [s for s in self.stages if self._within(s["span"], span["id"])]

    def stage_sum(self, span, key):
        return sum(s[key] for s in self.stages_in(span))

    def gap_ms(self, span):
        return driver_gap(span["start_ms"], span["end_ms"], self.stage_intervals)

    def task_skew(self, span):
        """max ÷ median task time of the span's heaviest stage."""
        heavy = max(self.stages_in(span), key=lambda s: sum(s["task_ms"]), default=None)
        if not heavy or not heavy["task_ms"] or statistics.median(heavy["task_ms"]) == 0:
            return 0.0
        return max(heavy["task_ms"]) / statistics.median(heavy["task_ms"])


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec):
    """Every PER_LAYER metric for a traced run: name -> value."""
    t = Trace(rec)
    ops, counts, sizes = rec["ops"], rec["counts"], rec["sizes"]
    out = {name: 0.0 for name, _ in PER_LAYER}

    def dur_s(name):
        return _median([(s["end_ms"] - s["start_ms"]) / 1000.0 for s in t.named(name)]) or 0.0

    def per_span(name, fn):
        return _mean([fn(s) for s in t.named(name)])

    traced = "traced"
    for layer, ms in layer_self_ms([s for s in t.spans if s["section"] == traced]).items():
        if layer in LAYERS:
            out[layer + ".self_s"] = ms / 1000.0
    for key in ("ingest.raw_links", "graph.pages", "graph.edges", "graph.dangling_links",
                "tables.files", "tables.write_amp"):
        out[key] = float(counts.get(key, 0))
    out["ingest.extract_s"] = dur_s("ingest.extract")
    out["graph.build_s"] = dur_s("graph.build")
    out["graph.dictionary_s"] = dur_s("graph.dictionary")
    out["graph.build_jobs"] = per_span("graph.build", lambda s: len(t.jobs_in(s)))
    out["graph.build_shuffle_bytes"] = per_span(
        "graph.build", lambda s: t.stage_sum(s, "shuffle_write_bytes"))
    out["tables.commit_s"] = dur_s("tables.commit")
    out["tables.open_s"] = dur_s("tables.open")
    out["query.cache_build_s"] = dur_s("query.cache_build")

    hops = _notes(ops, "route", traced, "hops")
    noroute = _notes(ops, "route", traced, "noroute")
    out["query.route_hops_mean"] = _mean(hops)
    out["query.noroute_ratio"] = _mean([1.0 if x else 0.0 for x in noroute])
    out["query.route_dist_jobs"] = per_span("query.route_dist", lambda s: len(t.jobs_in(s)))
    out["query.route_dist_driver_gap_ms"] = per_span("query.route_dist", t.gap_ms)

    steps = [x / 1000.0 for xs in _notes(ops, "pagerank", traced, "steps_ms") for x in xs]
    if steps:
        out["algo.pagerank_step_p50_s"] = statistics.median(steps)
        out["algo.pagerank_step_max_s"] = max(steps)
        out["algo.pagerank_shuffle_bytes_per_step"] = per_span(
            "algo.pagerank", lambda s: t.stage_sum(s, "shuffle_write_bytes")) / (
            len(steps) / max(1, len(t.named("algo.pagerank"))))
    out["algo.cc_rounds"] = _mean(_notes(ops, "cc", traced, "rounds"))
    out["algo.cc_shuffle_bytes"] = per_span("algo.cc", lambda s: t.stage_sum(s, "shuffle_write_bytes"))
    out["algo.bfs_levels"] = _mean(_notes(ops, "bfs", traced, "levels"))
    out["algo.bfs_driver_gap_s"] = per_span("algo.bfs", t.gap_ms) / 1000.0
    out["algo.triangles_shuffle_bytes"] = per_span(
        "algo.triangles", lambda s: t.stage_sum(s, "shuffle_write_bytes"))
    out["algo.triangles_spill_bytes"] = per_span(
        "algo.triangles", lambda s: t.stage_sum(s, "disk_spill_bytes"))
    out["algo.triangles_task_skew"] = per_span("algo.triangles", t.task_skew)

    out["state.commit_step_p50_s"] = dur_s("state.commit")
    state_bytes = _notes(ops, "pagerank_committed", traced, "state_bytes")
    if state_bytes:
        # superstep 0 (the uniform start) is committed too
        out["state.bytes_per_step"] = _mean(state_bytes) / (sizes["pagerank_supersteps"] + 1)

    out["pipeline.exact_s"] = dur_s("pipeline.exact")
    out["pipeline.lsh_pairs_s"] = dur_s("pipeline.lsh_pairs")
    out["pipeline.canonicalize_s"] = dur_s("pipeline.canonicalize")
    out["pipeline.lsh_shuffle_bytes"] = per_span(
        "pipeline.lsh_pairs", lambda s: t.stage_sum(s, "shuffle_write_bytes"))
    # failed ops count too: an op that reports an unverified pair fails
    def lsh(key):
        return sum(_notes(ops, "lsh_pairs", traced, key, ok_only=False))
    if lsh("reported_pairs"):
        out["pipeline.precision"] = lsh("verified_pairs") / lsh("reported_pairs")
    if lsh("planted"):
        out["pipeline.planted_recall"] = lsh("planted_found") / lsh("planted")

    op_spans = [s for s in t.spans if s["name"].startswith("op.") and s["section"] == traced]
    out["spark.jobs"] = float(sum(len(t.jobs_in(s)) for s in op_spans))
    out["spark.driver_gap_s"] = sum(t.gap_ms(s) for s in op_spans) / 1000.0
    out["spark.spill_bytes"] = float(sum(t.stage_sum(s, "disk_spill_bytes") for s in op_spans))

    traced_e2e, untraced_e2e = end_to_end(rec, traced), end_to_end(rec, "untraced")
    for key in ("throughput_per_s", "pass_s"):
        a, b = traced_e2e[key][0], untraced_e2e[key][0]
        if a is not None and b is not None:
            out["trace.overhead_" + key] = a - b
    return out
