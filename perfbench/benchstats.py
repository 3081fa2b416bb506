"""The benchmark's arithmetic: percentiles, failure accounting, span self
time, job attribution, and the metrics built from one raw run record.

The harness (harness/, Scala) writes a raw record: one entry per op, per
span and per Spark job. Everything computed from those entries lives here,
so that it can be tested without Spark (test_benchstats.py).
"""

import math
import statistics

# Percentile levels a timing may be reported at, lowest first.
LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)
# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


# ---- percentiles -----------------------------------------------------------

def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it. `values` may hold math.inf."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def samples_beyond(n, q):
    """How many of `n` samples lie above the nearest-rank `q` percentile."""
    return n - max(1, math.ceil(q * n))


def tail_level(n):
    """The highest ladder percentile with at least MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    best = None
    for q in LADDER:
        if samples_beyond(n, q) >= MIN_BEYOND:
            best = q
    return best


def latencies(ops):
    """Op latencies in seconds. A failed op missed every latency limit, so
    it counts as infinitely slow, never as a fast success."""
    return [math.inf if op.get("error") else op["t1"] - op["t0"] for op in ops]


# ---- failures --------------------------------------------------------------

def failures(ops):
    """(attempted, failed, first error per op kind)."""
    first = {}
    failed = 0
    for op in ops:
        err = op.get("error")
        if err:
            failed += 1
            first.setdefault(op["kind"], err)
    return len(ops), failed, first


# ---- spans and jobs --------------------------------------------------------

def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length of the union of (start, end) intervals, clipped to
    [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and may outlast the span."""
    return (span["t1"] - span["t0"]) - union_length(
        [(c["t0"], c["t1"]) for c in children], span["t0"], span["t1"])


def attribute_jobs(spans, jobs, slack=0.002):
    """Map job id → the id of the span that submitted it.

    A job names its span through a Spark local property. Threads from a
    pool made earlier keep the property of the span that created them, so
    a job whose start falls outside its named span is attributed instead to
    the innermost span open at its start. `slack` absorbs the millisecond
    resolution of Spark's event times. Jobs matching no span map to None.
    """
    by_id = {s["id"]: s for s in spans}
    out = {}
    for job in jobs:
        named = by_id.get(job.get("span"))
        t = job["t0"]
        if named and named["t0"] - slack <= t <= named["t1"] + slack:
            out[job["id"]] = named["id"]
            continue
        open_at = [s for s in spans if s["t0"] - slack <= t <= s["t1"] + slack]
        out[job["id"]] = (min(open_at, key=lambda s: s["t1"] - s["t0"])["id"]
                          if open_at else None)
    return out


def job_interval(job):
    """A job's (start, end); a job whose end event never arrived ends at
    its start."""
    end = job.get("t1")
    return job["t0"], job["t0"] if end is None else end


class Trace:
    """Spans and jobs of one run, indexed for per-op and per-layer sums."""

    def __init__(self, spans, jobs):
        self.spans = spans
        self.owner = attribute_jobs(spans, jobs)
        self.child_spans = {}
        for s in spans:
            self.child_spans.setdefault(s["parent"], []).append(s)
        self.span_jobs = {}
        for j in jobs:
            sid = self.owner.get(j["id"])
            if sid is not None:
                self.span_jobs.setdefault(sid, []).append(j)

    def children(self, span):
        """Child spans and jobs of `span`, as intervals."""
        kids = [{"t0": c["t0"], "t1": c["t1"]} for c in self.child_spans.get(span["id"], [])]
        for j in self.span_jobs.get(span["id"], []):
            a, b = job_interval(j)
            kids.append({"t0": a, "t1": b})
        return kids

    def self_time(self, span):
        return self_time(span, self.children(span))

    def descendants(self, span):
        out = []
        stack = list(self.child_spans.get(span["id"], []))
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(self.child_spans.get(s["id"], []))
        return out

    def jobs_under(self, span):
        """Jobs submitted by `span` or any span below it."""
        ids = [span["id"]] + [s["id"] for s in self.descendants(span)]
        return [j for i in ids for j in self.span_jobs.get(i, [])]

    def op_spans(self):
        return {s["op"]: s for s in self.spans if s["layer"] == "op"}


# ---- metrics ---------------------------------------------------------------

def median(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return sum(values) / len(values) if values else default


def ratio(num, den):
    return num / den if den else 0.0


def finite(v, cap):
    """A percentile that landed on a failed op is reported as `cap`."""
    return cap if math.isinf(v) else v


def end_to_end(raw):
    """End-to-end metrics of an untraced run, plus the artifact-only
    figures (per-class percentiles, failure ratio)."""
    ops = raw["ops"]
    loop_s = raw["loop_s"]
    lat = latencies(ops)
    attempted, failed, first_errors = failures(ops)
    space = raw["space"]
    metrics = {
        "setup_s": (median([s["s"] for s in raw["setup"]]), "s"),
        "throughput_ops_s": (ratio(attempted - failed, loop_s), "1/s"),
        "latency_p50_s": (finite(percentile(lat, 0.5), loop_s), "s"),
        "space_amp": (ratio(space["disk_bytes"], space["live_bytes"]), "ratio"),
        "driver_heap_mb": (raw["heap_mb"], "MB"),
    }
    extra = {"failed_ops_ratio": ratio(failed, attempted),
             "first_error_per_kind": first_errors, "latency": {}}
    groups = {"all": ops}
    for op in ops:
        groups.setdefault("class:" + op["class"], []).append(op)
        groups.setdefault("kind:" + op["kind"], []).append(op)
    for name, group in groups.items():
        vals = latencies(group)
        entry = {"n": len(vals), "p50_s": finite(percentile(vals, 0.5), loop_s)}
        if len(vals) >= 100:
            entry["p90_s"] = finite(percentile(vals, 0.9), loop_s)
        level = tail_level(len(vals))
        if level is not None:
            entry["tail"] = {"percentile": level * 100,
                             "s": finite(percentile(vals, level), loop_s)}
        extra["latency"][name] = entry
    return metrics, extra, (attempted, failed)


PER_LAYER = (
    ("log.open_cold_s", "s"), ("log.open_warm_s", "s"), ("log.time_travel_s", "s"),
    ("log.tail_commits", "count"), ("log.checkpoint_actions", "count"),
    ("log.listing_entries", "count"), ("log.jobs_per_open", "count"),
    ("log.driver_s_per_open", "s"), ("log.self_s", "s"),
    ("plan.plan_s", "s"), ("plan.files_total", "count"), ("plan.files_read", "count"),
    ("plan.files_kept_ratio", "ratio"), ("plan.bytes_read", "bytes"),
    ("plan.metadata_s", "s"), ("plan.stats_only_answers", "ratio"), ("plan.self_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.job_wall_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.peak_exec_mem_bytes", "bytes"),
    ("exec.self_s", "s"),
    ("commit.commits", "count"), ("commit.write_s", "s"), ("commit.dml_s", "s"),
    ("commit.merge_s", "s"), ("commit.jobs_per_commit", "count"),
    ("commit.job_s_per_commit", "s"), ("commit.driver_s_per_commit", "s"),
    ("commit.ckpt_commit_s", "s"), ("commit.plain_commit_s", "s"),
    ("commit.log_bytes_per_commit", "bytes"), ("commit.data_files_per_commit", "count"),
    ("commit.self_s", "s"),
    ("index.ivf_build_s", "s"), ("index.ivf_refresh_s", "s"),
    ("index.commits_per_refresh", "count"), ("index.jobs_per_refresh", "count"),
    ("index.lookup_s", "s"), ("index.self_s", "s"),
    ("trace.coverage", "ratio"), ("trace.overhead_ratio", "ratio"),
    ("trace.spans_per_op", "count"),
)


def overhead_ratio(ops):
    """What tracing cost: traced rounds' op time over untraced rounds', kind
    by kind (medians), weighted by how often each kind ran traced."""
    num = den = 0.0
    kinds = {op["kind"] for op in ops}
    for kind in kinds:
        traced = [op["t1"] - op["t0"] for op in ops
                  if op["kind"] == kind and op["traced"] and not op.get("error")]
        plain = [op["t1"] - op["t0"] for op in ops
                 if op["kind"] == kind and not op["traced"] and not op.get("error")]
        if traced and plain:
            num += len(traced) * statistics.median(traced)
            den += len(traced) * statistics.median(plain)
    return ratio(num, den) - 1.0 if den else 0.0


def per_layer(raw):
    """Per-layer metrics of a traced run, from its traced rounds. A metric
    of a layer the workload never enters reads 0."""
    tr = Trace(raw["spans"], raw["jobs"])
    ops = [op for op in raw["ops"] if op["traced"] and not op.get("error")]
    op_span = tr.op_spans()
    ops = [op for op in ops if op["index"] in op_span]
    n_ops = len(ops)

    def spans_of(op, layer=None, names=None):
        out = [s for s in tr.descendants(op_span[op["index"]])]
        if layer:
            out = [s for s in out if s["layer"] == layer]
        if names:
            out = [s for s in out if any(s["name"].startswith(n) for n in names)]
        return out

    def dur(s):
        return s["t1"] - s["t0"]

    def counter(name, kinds=None):
        return [op["counters"][name] for op in ops
                if name in op["counters"] and (kinds is None or op["kind"] in kinds)]

    def jobs_in(op):
        return tr.jobs_under(op_span[op["index"]])

    m = {}
    # log
    for key, kind in (("log.open_cold_s", "cold_open"), ("log.open_warm_s", "warm_open"),
                      ("log.time_travel_s", "time_travel")):
        m[key] = median([sum(dur(s) for s in spans_of(op, "log"))
                         for op in ops if op["kind"] == kind])
    opens = [op for op in ops if op["class"] == "open"]
    m["log.tail_commits"] = mean(counter("tail_commits", ("cold_open", "time_travel")))
    m["log.checkpoint_actions"] = mean(counter("checkpoint_actions"))
    m["log.listing_entries"] = mean(counter("listing_entries"))
    m["log.jobs_per_open"] = ratio(sum(len(tr.jobs_under(s)) for op in opens
                                       for s in spans_of(op, "log")), len(opens))
    m["log.driver_s_per_open"] = ratio(sum(tr.self_time(s) for op in opens
                                           for s in spans_of(op, "log")), len(opens))
    # plan
    m["plan.plan_s"] = median([sum(dur(s) for s in spans_of(op, "plan"))
                               for op in ops if spans_of(op, "plan")])
    m["plan.files_total"] = mean(counter("files_total"))
    m["plan.files_read"] = mean(counter("files_read"))
    m["plan.files_kept_ratio"] = ratio(sum(counter("files_read")),
                                       sum(counter("files_total", ("pruned_scan",))))
    m["plan.bytes_read"] = mean(counter("bytes_read"))
    m["plan.metadata_s"] = mean(counter("metadata_s"))
    m["plan.stats_only_answers"] = mean(counter("stats_only"))
    # exec: every job of the traced ops, per op
    all_jobs = [j for op in ops for j in jobs_in(op)]
    for key, field in (("exec.stages", "stages"), ("exec.tasks", "tasks"),
                       ("exec.task_run_s", "task_run_s"), ("exec.task_cpu_s", "task_cpu_s"),
                       ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
                       ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                       ("exec.spill_bytes", "spill_bytes")):
        m[key] = ratio(sum(j[field] for j in all_jobs), n_ops)
    m["exec.jobs"] = ratio(len(all_jobs), n_ops)
    m["exec.job_wall_s"] = ratio(sum(
        union_length([job_interval(j) for j in jobs_in(op)],
                     op_span[op["index"]]["t0"], op_span[op["index"]]["t1"])
        for op in ops), n_ops)
    m["exec.peak_exec_mem_bytes"] = max([j["peak_exec_mem_bytes"] for j in all_jobs],
                                        default=0)
    # commit
    commit_ops = [op for op in ops if spans_of(op, "commit")]
    commits = sum(op["commits"] for op in commit_ops)
    commit_spans = [s for op in commit_ops for s in spans_of(op, "commit")]
    m["commit.commits"] = mean([op["commits"] for op in ops])
    m["commit.write_s"] = median([dur(s) for s in commit_spans
                                  if s["name"].startswith("GraftWriter")])
    m["commit.dml_s"] = median([dur(s) for s in commit_spans if s["name"].startswith("Dml")])
    m["commit.merge_s"] = median([dur(s) for s in commit_spans
                                  if s["name"].startswith("Merge")])
    m["commit.jobs_per_commit"] = ratio(sum(len(tr.jobs_under(s)) for s in commit_spans),
                                        commits)
    m["commit.job_s_per_commit"] = ratio(sum(
        union_length([job_interval(j) for j in tr.jobs_under(s)], s["t0"], s["t1"])
        for s in commit_spans), commits)
    m["commit.driver_s_per_commit"] = ratio(sum(tr.self_time(s) for s in commit_spans),
                                            commits)
    ckpt = [op for op in ops if "checkpoint" in op["counters"]]
    m["commit.ckpt_commit_s"] = median([op["t1"] - op["t0"] for op in ckpt
                                        if op["counters"]["checkpoint"] > 0])
    m["commit.plain_commit_s"] = median([op["t1"] - op["t0"] for op in ckpt
                                         if op["counters"]["checkpoint"] == 0])
    m["commit.log_bytes_per_commit"] = mean(counter("log_bytes"))
    m["commit.data_files_per_commit"] = mean(counter("data_files"))
    # index
    m["index.ivf_build_s"] = median([s["parts"]["ivf_build_s"] for s in raw["setup"]
                                     if "ivf_build_s" in s["parts"]])
    index_spans = [s for op in ops for s in spans_of(op, "index")]
    m["index.ivf_refresh_s"] = median([dur(s) for s in index_spans
                                       if s["name"] == "IvfIndex.refreshFromSource"])
    refreshes = [op for op in ops if op["class"] == "refresh"]
    m["index.commits_per_refresh"] = mean([op["commits"] for op in refreshes])
    m["index.jobs_per_refresh"] = mean([len(jobs_in(op)) for op in refreshes])
    m["index.lookup_s"] = median([op["t1"] - op["t0"] for op in ops if op["class"] == "lookup"])
    # self time per layer, per op
    for layer in ("log", "plan", "exec", "commit", "index"):
        m[f"{layer}.self_s"] = ratio(sum(tr.self_time(s) for op in ops
                                         for s in spans_of(op, layer)), n_ops)
    # how much of the op wall the layers and jobs account for
    walls = sum(dur(op_span[op["index"]]) for op in ops)
    uncovered = sum(tr.self_time(op_span[op["index"]]) for op in ops)
    m["trace.coverage"] = ratio(walls - uncovered, walls)
    m["trace.overhead_ratio"] = overhead_ratio(raw["ops"])
    m["trace.spans_per_op"] = ratio(sum(1 + len(spans_of(op)) for op in ops), n_ops)
    units = dict(PER_LAYER)
    return {k: (m[k], units[k]) for k, _ in PER_LAYER}
