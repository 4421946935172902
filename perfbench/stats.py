"""Arithmetic of the benchmark's metrics: percentiles, error rate, span
self time, and the end-to-end and per-layer figures of one run."""
import math
import statistics

MIN_BEYOND = 10
# Latency tail reported: the highest quantile a run's sample count affords
# with MIN_BEYOND samples above it (40 samples for p75).
TAIL = 0.75


def percentile(values, q, min_beyond=MIN_BEYOND):
    """Nearest-rank q-quantile. Refuses when fewer than `min_beyond`
    samples lie above it, so a reported tail always rests on that many."""
    xs = sorted(values)
    n = len(xs)
    k = max(0, math.ceil(q * n) - 1)
    if n == 0 or n - (k + 1) < min_beyond:
        raise ValueError(f"p{q * 100:g} of {n} samples has fewer than {min_beyond} beyond it")
    return xs[k]


def min_samples(q, min_beyond=MIN_BEYOND):
    """Smallest sample count whose nearest-rank q-quantile has `min_beyond`
    samples above it."""
    n = min_beyond
    while True:
        try:
            percentile(range(n), q, min_beyond)
            return n
        except ValueError:
            n += 1


def error_rate(failed, wrong, attempted):
    """(failed requests + wrong answers) / requests attempted."""
    if attempted <= 0:
        raise ValueError("no requests attempted")
    return (failed + wrong) / attempted


def self_times(spans):
    """Self time per span name (ms): each span's duration minus the part
    of its interval covered by its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        own = s["end_ms"] - s["start_ms"] - covered
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result):
    """setup_s, total_s and latency percentiles of an untraced run."""
    passes = [p for p in result["passes"] if not p["traced"] and not p["warmup"]]
    lat = [r["ms"] for p in passes for r in p["requests"]]
    return {
        "setup_s": median([r["seconds"] for r in result["rounds"]]),
        "total_s": median([p["seconds"] for p in passes]),
        "latency_p50_ms": percentile(lat, 0.5),
        "latency_p75_ms": percentile(lat, TAIL),
    }, len(lat)


STAGES = ["fanouts", "estimate", "qerror"]


def per_layer(result, spans, cores):
    """Per-layer figures of a traced run. Set-up layers (tables open, memo,
    model store) are medians over set-up rounds; the rest are medians over
    traced steady passes. Tracing overhead is the traced pass time minus the
    untraced pass time (medians)."""
    rounds = result["rounds"]
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"] and not p["warmup"]]

    def rmed(k):
        return median([r[k] for r in rounds])

    def pmed(f):
        return median([f(p) for p in traced])

    def req_sum(p, k):
        return sum(r[k] for r in p["requests"]) / 1000.0

    def layer(p, k):
        return p["layers"].get(k, 0)

    exec_s = pmed(lambda p: req_sum(p, "exec_ms"))
    jobs = pmed(lambda p: layer(p, "jobs"))
    cpu_s = pmed(lambda p: layer(p, "cpu_ns") / 1e9)
    m = {
        "setup.first_s": rounds[0]["seconds"],
        "tables.open_s": rmed("tables_open_s"),
        "tables.read_mb": pmed(lambda p: layer(p, "scan_bytes") / 1e6),
        "tables.read_rows": pmed(lambda p: layer(p, "scan_rows")),
        "memo.builds": rmed("memo_builds"),
        "memo.build_s": rmed("memo_build_s"),
        "memo.cpu_s": rmed("memo_cpu_s"),
        "ckpt.train_runs": rmed("ckpt_train_runs"),
        "ckpt.train_s": rmed("ckpt_train_s"),
        "query.parse_s": pmed(lambda p: req_sum(p, "parse_ms")),
        "build.s": pmed(lambda p: req_sum(p, "build_ms")),
        "plan.s": pmed(lambda p: req_sum(p, "plan_ms")),
        "exec.s": exec_s,
        "exec.jobs": jobs,
        "exec.stages": pmed(lambda p: layer(p, "stages")),
        "exec.tasks": pmed(lambda p: layer(p, "tasks")),
        "exec.cpu_s": cpu_s,
        "exec.gc_s": pmed(lambda p: layer(p, "gc_ms") / 1000.0),
        "exec.shuffle_read_mb": pmed(lambda p: layer(p, "shuffle_read") / 1e6),
        "exec.shuffle_write_mb": pmed(lambda p: layer(p, "shuffle_write") / 1e6),
        "exec.spill_mb": pmed(lambda p: layer(p, "spill") / 1e6),
        "exec.ms_per_job": exec_s * 1000.0 / jobs if jobs else 0.0,
        "exec.cpu_util": cpu_s / (exec_s * cores) if exec_s else 0.0,
    }
    for st in STAGES:
        m[f"stage.{st}_s"] = pmed(lambda p: sum(
            r["ms"] for r in p["requests"] if r["stage"] == st) / 1000.0)
    # self time per layer: medians over traced passes (steady layers) and
    # over set-up rounds (set-up layers)
    def subtree(root):
        keep, frontier = set(), {root}
        while frontier:
            keep |= frontier
            frontier = {s["id"] for s in spans if s["parent"] in frontier} - keep
        return [s for s in spans if s["id"] in keep]

    def self_med(kind, names):
        per = [self_times(subtree(s["id"])) for s in spans if s["name"] == kind]
        for name in names:
            m[f"self.{name}_s"] = median([t.get(name, 0.0) / 1000.0 for t in per])

    self_med("pass", ["request", "parse", "build", "plan", "exec"])
    self_med("round", ["session", "tables", "memo"])
    m["trace.overhead_s"] = median([p["seconds"] for p in traced]) - \
        median([p["seconds"] for p in plain])
    m["trace.spans"] = len(spans)
    return m
