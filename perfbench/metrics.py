"""Metric derivation from the JVM report: end-to-end metrics from the
untraced passes, per-layer metrics from the spans and listener records of
the traced passes. Pure functions over the report's JSON, so they are
unit-tested without Spark."""
import math
import statistics

# Spans the benchmark opens around its calls into the engine, children of
# one `job` span each; their durations must tile the job.
LAYER_SPANS = ("build", "plan", "exec", "release")
# Reconciliation band: the layer spans' total over the traced pass wall.
COVERAGE_BAND = (0.90, 1.01)
MB = 1 << 20


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def highest_percentile(n, candidates=(50, 90, 95, 99, 99.9)):
    """The highest candidate percentile that has at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in candidates:
        if n - math.ceil(n * p / 100.0) >= 10:
            best = p
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover
    (children may overlap each other and stick out of the span)."""
    clipped = [(max(start, s), min(end, e)) for s, e in children]
    return (end - start) - union_length(clipped)


def failures(execs, wrong):
    """(attempted, failed, causes): an execution fails when it threw or
    when ``wrong`` (index -> cause) says its output is incorrect."""
    causes = []
    for i, e in enumerate(execs):
        if e.get("error"):
            causes.append({"job": e["job"], "pass": e["pass"], "cause": "threw: " + e["error"]})
        elif i in wrong:
            causes.append({"job": e["job"], "pass": e["pass"], "cause": wrong[i]})
    return len(execs), len(causes), causes


def job_medians(execs):
    """Median latency of each job over ``execs``."""
    by_job = {}
    for e in execs:
        by_job.setdefault(e["job"], []).append(e["latency_s"])
    return {j: statistics.median(v) for j, v in by_job.items()}


def end_to_end(report, execs):
    """The tracing-off metrics of one run."""
    passes = [p for p in report["passes"] if not p["traced"]]
    lat = [e["latency_s"] for e in execs]
    return {
        "setup_s": statistics.median(report["setup_s"]),
        "makespan_s": statistics.median((p["end_us"] - p["start_us"]) / 1e6 for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "live_heap_mb": report["live_heap_mb"],
        "query_p50_s": percentile(lat, 50),
        "query_p90_s": percentile(lat, 90),
    }


class Trace:
    """Index over the traced part of a report."""

    def __init__(self, report):
        self.kids = {}
        for s in report["spans"]:
            self.kids.setdefault(s["parent"], []).append(s)
        self.stages = {}
        for st in report["stages"]:
            if st["submit_ms"] >= 0 and st["complete_ms"] >= 0:
                self.stages.setdefault(st["span"], []).append(st)
        self.blocks = report["blocks"]
        self.job_spans = [(j["id"], j["span"]) for j in report["jobs"]]
        self.scans = report["scans"]

    def under(self, span_id):
        """All spans below ``span_id``."""
        out, todo = [], list(self.kids.get(span_id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s["id"], []))
        return out

    def stages_under(self, spans):
        return [st for s in spans for st in self.stages.get(s["id"], [])]

    def blocks_at(self, t_ms):
        """(blocks, bytes) stored at ``t_ms`` as the listener had seen."""
        last = (0, 0)
        for t, n, b in self.blocks:
            if t > t_ms:
                break
            last = (n, b)
        return last

    def peak_bytes(self, t0_ms, t1_ms):
        peak = self.blocks_at(t0_ms)[1]
        for t, _, b in self.blocks:
            if t0_ms <= t <= t1_ms:
                peak = max(peak, b)
        return peak


def stage_interval_us(st):
    return st["submit_ms"] * 1000, st["complete_ms"] * 1000


def pass_layers(tr, pass_span, cores):
    """Per-layer totals of one traced pass."""
    spans = tr.under(pass_span["id"])
    wall = (pass_span["end_us"] - pass_span["start_us"]) / 1e6
    by = lambda name: [s for s in spans if s["name"] == name]
    dur = lambda ss: sum(s["end_us"] - s["start_us"] for s in ss) / 1e6
    stages = tr.stages_under(spans)
    exec_spans, build_spans = by("exec"), by("build")
    exec_stages = tr.stages_under(exec_spans)
    tasks = lambda key, sts=stages: sum(st[key] for st in sts)
    run_ms = sum(sum(st["run_ms"]) for st in stages)

    skews, weights = [], []
    for st in stages:
        if len(st["run_ms"]) >= 2:
            med = statistics.median(st["run_ms"])
            skews.append(max(st["run_ms"]) / med if med > 0 else 1.0)
            weights.append(sum(st["run_ms"]))
    skew = (sum(s * w for s, w in zip(skews, weights)) / sum(weights)
            if sum(weights) > 0 else 1.0)

    gap = sum(self_time(s["start_us"], s["end_us"],
                        [stage_interval_us(st) for st in tr.stages.get(s["id"], [])])
              for s in exec_spans) / 1e6
    jobs = by("job")
    blocks_left = sum(tr.blocks_at(j["start_us"] // 1000)[0] for j in jobs)
    t0_ms, t1_ms = pass_span["start_us"] // 1000, pass_span["end_us"] // 1000
    scans = [(f, b) for t, f, b in tr.scans if t0_ms <= t <= t1_ms]
    input_files = sum(j["attrs"].get("input_files", 0) for j in jobs)

    # the graft.mr compat jobs (one `exec` span around MRJob.runFiles each):
    # map stage width and time, no-combiner waste, sink
    compat = [j for j in jobs if j["attrs"].get("job", "").endswith("_compat")]
    native_mr = [j for j in jobs if j["attrs"].get("job") in ("mr_wc", "mr_indexer")]
    exec_stages_of = lambda j: tr.stages_under(
        [s for s in tr.under(j["id"]) if s["name"] == "exec"])
    map_tasks, read_s, write_s = [], 0.0, 0.0
    for j in compat:
        sts = exec_stages_of(j)
        if sts:
            # the first stage reads the files and maps them (the read is
            # pipelined into the map); the last one writes mr-out
            first = min(sts, key=lambda st: st["id"])
            last = max(sts, key=lambda st: st["complete_ms"])
            map_tasks.append(first["num_tasks"])
            read_s += (first["complete_ms"] - first["submit_ms"]) / 1e3
            write_s += (last["complete_ms"] - last["submit_ms"]) / 1e3

    def pairs_per_key(js):
        sts = [st for j in js for st in exec_stages_of(j)]
        keys = sum(st["out_records"] for st in sts)
        return sum(st["shw_records"] for st in sts) / keys if keys else 0.0

    shuffle_stages = [stage_interval_us(st) for st in stages
                      if st["shw_bytes"] > 0 or st["shr_bytes"] > 0]
    layer_time = sum(dur(by(n)) for n in LAYER_SPANS)
    return {
        "graft.release_s": dur(by("release")),
        "graft.blocks_left": blocks_left,
        "tables.scan_mb": sum(b for _, b in scans) / MB,
        "tables.scan_rows": tasks("in_records"),
        "tables.scan_tasks": tasks("in_tasks"),
        "tables.scans_per_file": (sum(f for f, _ in scans) / input_files
                                  if input_files else 0.0),
        "operators.build_s": dur(build_spans),
        "operators.build_jobs": len(_jobs_of(tr, build_spans)),
        "plan.s": dur(by("plan")),
        "exec.s": dur(exec_spans),
        "exec.jobs": len(_jobs_of(tr, exec_spans)),
        "exec.stages": len(exec_stages),
        "exec.tasks": tasks("tasks", exec_stages),
        "exec.sched_wait_s": tasks("sched_delay_ms", exec_stages) / 1e3,
        "exec.driver_gap_s": gap,
        "exec.core_busy": run_ms / 1e3 / (wall * cores),
        "exec.stage_skew": skew,
        "exec.task_cpu_s": tasks("cpu_ns") / 1e9,
        "exec.gc_s": tasks("gc_ms") / 1e3,
        "exec.failed_tasks": tasks("failed_tasks"),
        "shuffle.write_mb": tasks("shw_bytes") / MB,
        "shuffle.read_mb": tasks("shr_bytes") / MB,
        "shuffle.records": tasks("shw_records"),
        "shuffle.write_s": tasks("shw_ns") / 1e9,
        "shuffle.fetch_wait_s": tasks("fetch_ms") / 1e3,
        "shuffle.stage_share": union_length(shuffle_stages) / 1e6 / wall,
        "spill.mem_mb": tasks("spill_mem") / MB,
        "spill.disk_mb": tasks("spill_disk") / MB,
        "storage.peak_mb": tr.peak_bytes(t0_ms, t1_ms) / MB,
        "mr.map_tasks": statistics.median(map_tasks) if map_tasks else 0,
        "mr.pairs_per_key": pairs_per_key(compat),
        "mr.pairs_per_key_native": pairs_per_key(native_mr),
        "mr.read_s": read_s,
        "mr.write_s": write_s,
        "trace.coverage": layer_time / wall,
        "wall_s": wall,
    }


def _jobs_of(tr, spans):
    ids = {s["id"] for s in spans}
    return [j for j, s in tr.job_spans if s in ids]


def layers(report):
    """Per-layer metrics: the traced pass's totals, with the tracing
    overhead (traced pass wall minus the wall of the untraced pass after
    it; the one before it is still warming up, a few percent slower)."""
    traced = next(s for s in report["spans"] if s["name"] == "pass")
    out = pass_layers(Trace(report), traced, report["cores"])
    i = next(k for k, p in enumerate(report["passes"]) if p["traced"])
    after = report["passes"][i + 1]
    out["trace.overhead_s"] = out.pop("wall_s") - (after["end_us"] - after["start_us"]) / 1e6
    out["graft.session_s"] = statistics.median(report["setup_s"])
    return out
