"""Arithmetic behind the reported metrics: percentiles, interval unions,
micro-batch attribution of landed files, and per-layer roll-ups of the
spans, Spark jobs and planning records a traced run writes."""
import json
import math
import os
import statistics

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank ``p``-th percentile of ``values``; the median for
    ``p == 50``. A percentile above the median is only reported when at
    least ten samples lie beyond it; otherwise None."""
    xs = sorted(values)
    if not xs:
        return None
    if p == 50:
        return statistics.median(xs)
    rank = math.ceil(p / 100.0 * len(xs))
    if p > 50 and len(xs) - rank < MIN_BEYOND:
        return None
    return xs[max(rank, 1) - 1]


def union(intervals):
    """Merge (start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def measure(intervals):
    return sum(e - s for s, e in union(intervals))


def subtract(base, cut):
    """Parts of the union of ``base`` not covered by any of ``cut``."""
    cut = union(cut)
    out = []
    for s, e in union(base):
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def read_source_log(checkpoint_dir):
    """{file basename: micro-batch id} from a file source's metadata log
    (``<checkpoint>/sources/0``), compacted batches included."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def file_lags(due_ms, file_batch, batch_end_ms):
    """Seconds from each file's due landing time to the end of the
    micro-batch that consumed it. Every file must have been consumed by a
    batch whose end is known."""
    lags = {}
    for name, due in due_ms.items():
        if name not in file_batch:
            raise ValueError(f"{name} was not consumed by any micro-batch")
        b = file_batch[name]
        if b not in batch_end_ms:
            raise ValueError(f"batch {b} consumed {name} but never ended")
        lags[name] = (batch_end_ms[b] - due) / 1000.0
    return lags


def max_backlog(landed_ms, file_batch, batch_start_ms):
    """Most files landed but not yet consumed at the start of any batch."""
    worst = 0
    for b, start in batch_start_ms.items():
        waiting = sum(1 for name, t in landed_ms.items()
                      if t <= start and file_batch.get(name, b) >= b)
        worst = max(worst, waiting)
    return worst


def innermost(spans, t):
    """Id of the deepest span whose interval holds time ``t``, or None."""
    best, best_depth = None, -1
    depth = {}
    by_id = {s["id"]: s for s in spans}

    def d(sid):
        if sid not in depth:
            p = by_id[sid]["parent"]
            depth[sid] = 0 if p not in by_id else d(p) + 1
        return depth[sid]

    for s in spans:
        if s["start"] <= t <= s["end"] and d(s["id"]) > best_depth:
            best, best_depth = s["id"], d(s["id"])
    return best


LAYER_FIELDS = ["driver_s", "jobs", "stages", "tasks", "exec_run_s",
                "exec_cpu_s", "util", "shuffle_read_mb", "shuffle_write_mb",
                "spill_mb", "peak_exec_mem_mb", "gc_s", "plan_ms"]


def layer_rollup(spans, jobs, plans, cores):
    """Per layer: the self time of its spans, the share of that time no
    Spark job covers (driver_s), and the counts of the jobs and planning
    records attributed to its spans. A job belongs to the span named by its
    job group (``pb-<id>``), else to the innermost span active when it
    started."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    job_iv = [(j["start"], j["end"]) for j in jobs if j["end"] >= j["start"]]
    out = {}

    def acc(layer):
        return out.setdefault(layer, {
            "wall_s": 0.0, "driver_s": 0.0, "jobs": 0, "stages": 0,
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "peak_mem": 0, "gc_ms": 0,
            "plan_ms": 0.0})

    for s in spans:
        own = subtract([(s["start"], s["end"])],
                       [(c["start"], c["end"]) for c in children.get(s["id"], [])])
        a = acc(s["layer"])
        a["wall_s"] += measure(own) / 1000.0
        a["driver_s"] += measure(subtract(own, job_iv)) / 1000.0
    for j in jobs:
        g = j["group"]
        sid = int(g[3:]) if g.startswith("pb-") else None
        if sid not in by_id:
            sid = innermost(spans, j["start"])
        if sid is None:
            continue
        a = acc(by_id[sid]["layer"])
        a["jobs"] += 1
        for k in ("stages", "tasks", "run_ms", "cpu_ns", "shuffle_read",
                  "shuffle_write", "spill", "gc_ms"):
            a[k] += j[k]
        a["peak_mem"] = max(a["peak_mem"], j["peak_mem"])
    for p in plans:
        sid = innermost(spans, p["start"])
        if sid is not None:
            acc(by_id[sid]["layer"])["plan_ms"] += p["ms"]
    mb = 1024.0 * 1024.0
    result = {}
    for layer, a in out.items():
        wall = a["wall_s"]
        result[layer] = {
            "driver_s": a["driver_s"], "jobs": a["jobs"],
            "stages": a["stages"], "tasks": a["tasks"],
            "exec_run_s": a["run_ms"] / 1000.0,
            "exec_cpu_s": a["cpu_ns"] / 1e9,
            "util": (a["run_ms"] / 1000.0) / (cores * wall) if wall > 0 else 0.0,
            "shuffle_read_mb": a["shuffle_read"] / mb,
            "shuffle_write_mb": a["shuffle_write"] / mb,
            "spill_mb": a["spill"] / mb,
            "peak_exec_mem_mb": a["peak_mem"] / mb,
            "gc_s": a["gc_ms"] / 1000.0,
            "plan_ms": a["plan_ms"],
        }
    return result
