"""End-to-end and per-layer metrics from the harness's raw record.

Every workload reports every metric: a layer a workload does not run
reports zero work. ``compute`` returns (end_to_end, per_layer, report),
each a {name: (value, unit)} map; ``report`` adds the workload-specific
figures printed on the human-readable line."""
import statistics

from . import stats

# The registry queries of the batch workload's query pass: driver/job-bound
# loops, then executor-bound operators.
QUERY_NAMES = [
    "q74_dedup_groups_star", "q147_prefix_filter_precollapse",
    "q283_dark_rendezvous", "q16_tpch_q1"]
LAYERS = ["etl", "queries", "llm", "streaming"]
LAYER_UNITS = {"driver_s": "s", "jobs": "count", "stages": "count",
               "tasks": "count", "exec_run_s": "s", "exec_cpu_s": "s",
               "util": "ratio", "shuffle_read_mb": "MB",
               "shuffle_write_mb": "MB", "spill_mb": "MB",
               "peak_exec_mem_mb": "MB", "gc_s": "s", "plan_ms": "ms"}
MB = 1024.0 * 1024.0


def per_layer_units():
    """{metric name: unit} of every per-layer metric, in report order."""
    units = {}
    for layer in LAYERS:
        for field in stats.LAYER_FIELDS:
            units[f"{layer}.{field}"] = LAYER_UNITS[field]
    units.update({"core.session_s": "s", "core.warmup_s": "s",
                  "ingest.s": "s", "ingest.mb_per_s": "MB/s",
                  "ingest.requests": "count", "ingest.chunks": "count",
                  "ingest.errors": "count", "etl.read_s": "s",
                  "etl.optimize_s": "s", "etl.write_s": "s",
                  "etl.count_s": "s", "etl.rows_in": "rows",
                  "etl.rows_quarantined": "rows", "etl.bytes_out_mb": "MB"})
    for q in QUERY_NAMES:
        units[f"q.{q}.s"] = "s"
    units.update({
        "streaming.batches": "count", "streaming.rows_per_batch_p50": "rows",
        "streaming.batch_s_p50": "s", "streaming.batch_s_max": "s",
        "streaming.add_batch_ms_p50": "ms", "streaming.plan_ms_p50": "ms",
        "streaming.wal_ms_p50": "ms", "streaming.busy_frac": "ratio",
        "streaming.backlog_max_files": "files",
        "streaming.index_mb_end": "MB", "streaming.gen_late_ms_max": "ms",
        "streaming.lag_p90_s": "s", "streaming.capacity_eps": "events/s",
        "trace.overhead_frac": "ratio"})
    return units


def _median(xs):
    """Median of ``xs``; a metric with no samples is an error, never 0."""
    xs = list(xs)
    if not xs:
        raise ValueError("no samples to take a median of")
    return statistics.median(xs)


def _span_sums(spans, names):
    """Per top-level unit (a span without a parent), the summed duration
    in seconds of its descendant spans called ``names``."""
    by_id = {s["id"]: s for s in spans}

    def top(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s["id"]

    sums = {}
    for s in spans:
        if s["name"] in names:
            key = top(s)
            sums[key] = sums.get(key, 0.0) + (s["end"] - s["start"]) / 1000.0
    return list(sums.values())


def _layers(raw, units):
    """Per-layer Spark counts, averaged per traced unit of work of the
    layer's own (``units``: {layer: traced units})."""
    roll = stats.layer_rollup(raw["spans"], raw["jobs"], raw["plans"],
                              raw["cores"])
    out = {}
    for layer, n in units.items():
        r = roll.get(layer)
        for field in stats.LAYER_FIELDS:
            v = 0.0 if r is None else r[field]
            if field not in ("util", "peak_exec_mem_mb"):
                v = v / max(n, 1)
            out[f"{layer}.{field}"] = v
    return out


def _stream(feed, file_rows):
    """Per-file lags and per-batch figures of one fed stream. Input rows
    per batch come from the files it consumed (the progress events' row
    counts include every re-read of a batch inside foreachBatch)."""
    batches = feed["batches"]
    file_batch = stats.read_source_log(feed["checkpoint"])
    start = {b["batch"]: b["start"] for b in batches}
    end = {b["batch"]: b["start"] + b["duration_ms"]["triggerExecution"]
           for b in batches}
    due = dict(zip(feed["files"], feed["due_ms"]))
    landed = dict(zip(feed["files"], feed["landed_ms"]))
    lags = list(stats.file_lags(due, file_batch, end).values())
    trig = [b["duration_ms"]["triggerExecution"] / 1000.0 for b in batches]
    batch_rows = {b["batch"]: 0 for b in batches}
    for name, b in file_batch.items():
        batch_rows[b] += file_rows[name]
    rows = sum(batch_rows.values())
    span = (max(end.values()) - min(due.values())) / 1000.0
    return {
        "lags": lags, "rows": rows,
        "streaming.batches": len(batches),
        "streaming.rows_per_batch_p50": _median(batch_rows.values()),
        "streaming.batch_s_p50": _median(trig),
        "streaming.batch_s_max": max(trig),
        "streaming.add_batch_ms_p50": _median(
            b["duration_ms"]["addBatch"] for b in batches),
        "streaming.plan_ms_p50": _median(
            b["duration_ms"].get("queryPlanning", 0) for b in batches),
        "streaming.wal_ms_p50": _median(
            b["duration_ms"].get("walCommit", 0) for b in batches),
        "streaming.busy_frac": sum(trig) / span,
        "streaming.backlog_max_files": stats.max_backlog(landed, file_batch,
                                                         start),
        "streaming.index_mb_end": feed["index_bytes"] / MB,
        "streaming.gen_late_ms_max": max(l - d for l, d in
                                         zip(feed["landed_ms"],
                                             feed["due_ms"])),
        "streaming.lag_p90_s": stats.percentile(lags, 90),
        "streaming.capacity_eps": rows / sum(trig),
    }


def compute(workload, raw, expect):
    setup = raw["setup"]
    e2e = {"setup_s": setup["total_s"],
           "peak_rss_mb": raw["peak_rss_kb"] / 1024.0}
    layer = {k: 0.0 for k in per_layer_units()}
    layer["core.session_s"] = setup["session_s"]
    layer["core.warmup_s"] = setup["warmup_s"]
    report = {}
    facts = raw["facts"]

    if workload == "batch":
        # the first cycle: a Pipeline.run, then a pass of the query mix, in
        # a JVM that ran nothing else yet; a traced run adds a traced and
        # an untraced cycle
        def cycle(units, i):
            return next(u for u in units if u["cycle"] == i and u["ok"])

        runs = [r for r in facts["runs"] if r["ok"]]
        passes = [p for p in facts["passes"] if p["ok"]]
        first_run, first_pass = cycle(runs, 0), cycle(passes, 0)
        etl_s, pass_s = first_run["wall_s"], first_pass["wall_s"]
        e2e["wall_s"] = etl_s + pass_s
        out_bytes = sum(t["bytes_out"] for t in first_run["tables"])
        e2e["space_ratio"] = out_bytes / facts["csv_bytes"]
        report.update({"pipeline_s": (etl_s, "s"), "pass_s": (pass_s, "s")})
        traced_runs = [r for r in runs if r["traced"]]
        traced_passes = [p for p in passes if p["traced"]]
        if traced_runs and traced_passes:
            layer.update(_layers(raw, {
                "etl": len(traced_runs), "queries": len(traced_passes),
                "llm": len(traced_passes)}))
            spans = raw["spans"]
            ingest_s = _median(_span_sums(spans, {"Ingestor.ingestFromConfig"}))
            ing = traced_runs[0]["ingest"]
            tables = traced_runs[0]["tables"]
            layer.update({
                "ingest.s": ingest_s,
                "ingest.mb_per_s": ing["bytes"] / MB / ingest_s,
                "ingest.requests": ing["requests"],
                "ingest.chunks": ing["chunks"], "ingest.errors": ing["errors"],
                "etl.rows_in": sum(t["rows"] + t["quarantined"] for t in tables),
                "etl.rows_quarantined": sum(t["quarantined"] for t in tables),
                "etl.bytes_out_mb": out_bytes / MB})
            for stage in ("read", "optimize", "write", "count"):
                layer[f"etl.{stage}_s"] = _median(_span_sums(spans, {stage}))
            for q in QUERY_NAMES:
                layer[f"q.{q}.s"] = _median(
                    x["s"] for p in traced_passes for x in p["queries"]
                    if x["name"] == q)
            traced_s = traced_runs[0]["wall_s"] + traced_passes[0]["wall_s"]
            plain_s = cycle(runs, 2)["wall_s"] + cycle(passes, 2)["wall_s"]
            layer["trace.overhead_frac"] = traced_s / plain_s - 1.0

    else:
        feeds = {f["tag"]: f for f in facts["feeds"] if f["ok"]}
        plain = _stream(feeds["plain"], expect["rows"])
        e2e["wall_s"] = stats.percentile(plain["lags"], 50)
        e2e["space_ratio"] = (feeds["plain"]["output_bytes"]
                              / feeds["plain"]["input_bytes"])
        report.update({"lag_p50_s": (e2e["wall_s"], "s"),
                       "lag_p90_s": (plain["streaming.lag_p90_s"], "s"),
                       "stream_capacity_eps": (plain["streaming.capacity_eps"],
                                               "events/s"),
                       "files": (len(plain["lags"]), "count"),
                       "batches": (plain["streaming.batches"], "count"),
                       "alerts": (feeds["plain"]["gate"]["alerts"], "count")})
        if "traced" in feeds:
            # the streaming layer is the monitor's micro-batches: one child
            # span per batch under the feed's span, which itself only
            # waits for input; jobs and plans fall to the batch active
            # when they started
            t = feeds["traced"]
            spans = [dict(s) for s in raw["spans"]]
            feed_span = next(s for s in spans if s["layer"] == "streaming")
            feed_span["layer"] = "feed"
            next_id = max(s["id"] for s in spans) + 1
            for i, b in enumerate(t["batches"]):
                spans.append({
                    "id": next_id + i, "parent": feed_span["id"],
                    "layer": "streaming", "name": f"batch {b['batch']}",
                    "start": b["start"],
                    "end": b["start"] + b["duration_ms"]["triggerExecution"]})
            layer.update(_layers(dict(raw, spans=spans), {"streaming": 1}))
            layer.update({k: v for k, v in plain.items()
                          if k.startswith("streaming.")})
            traced_lag = stats.percentile(_stream(t, expect["rows"])["lags"], 50)
            layer["trace.overhead_frac"] = traced_lag / e2e["wall_s"] - 1.0

    units = {"setup_s": "s", "wall_s": "s", "space_ratio": "bytes/byte",
             "peak_rss_mb": "MB"}
    e2e_out = {k: (float(e2e[k]), units[k]) for k in units}
    lu = per_layer_units()
    layer_out = {k: (float(layer[k] if layer[k] is not None else 0.0), lu[k])
                 for k in lu}
    report.update(e2e_out)
    return e2e_out, layer_out, report
