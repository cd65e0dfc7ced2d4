"""Metric math for the benchmark: quantiles, the tail-percentile rule,
interval unions, span self time, and the end-to-end and per-layer metrics
computed from one run's raw record (written by perfbench.Main)."""
import statistics

MS = 1000.0


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """Latency at the highest percentile that still has at least `beyond`
    samples above it. Returns (value, percentile, n). With too few samples
    for that, returns the maximum at percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 100.0, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals, each
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of its interval that its child
    spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(k["start"], k["end"]) for k in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids, s["start"], s["end"])
    return out


def _within(t, op):
    return op["start"] <= t < op["end"]


def timed_ops(raw, traced):
    return [o for o in raw["ops"] if o["id"] >= 0 and o["traced"] == traced]


def pass_walls(raw, traced):
    """Wall time of each complete pass, less any traced-only probes."""
    return [p["end"] - p["start"] - p["probe_ms"] for p in raw["passes"] if p["traced"] == traced]


def typical_op(ops):
    """Median over a pass's op positions of each position's median latency:
    like ops (the same position in every pass) are pooled, and every
    position counts once however many passes ran."""
    by_idx = {}
    for o in ops:
        by_idx.setdefault(o["idx"], []).append(o["end"] - o["start"])
    return median(median(xs) for xs in by_idx.values())


def end_to_end(raw):
    wall = median(pass_walls(raw, False)) / MS
    return {
        "setup_s": (median(raw["setup_ms"]) / MS, "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (typical_op(timed_ops(raw, False)) / MS, "s"),
        "cold_op_s": (raw["cold_ms"] / MS, "s"),
        "rows_per_s": (raw["input_rows_per_pass"] / wall if wall > 0 else 0.0, "1/s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
    }


REGISTRY_ROWS = ("t_bm25", "d_ppjoin", "e_knn_graph", "c_cc", "j_skew_salted", "v_heavy")


def per_layer(raw, facts):
    """Per-layer metrics over the traced ops: per-op medians for additive
    quantities, run totals or ratios where stated."""
    lis = raw["listener"]
    ops = timed_ops(raw, True)
    store = raw.get("store_dir") or "\0"
    spans = raw["spans"]
    selft = self_times(spans)
    span_by_id = {s["id"]: s for s in spans}

    def in_op(items, key, op):
        return [x for x in items if _within(x[key], op)]

    per = {k: [] for k in (
        "gap", "jobs", "stages", "tasks", "plan", "task", "cpu", "gc", "spill", "sw", "sr",
        "fetch", "skew", "src_s", "src_files", "src_bytes", "src_rows", "views", "sink_s",
        "sink_read", "rows_w", "bytes_w", "files_w", "commit", "trigger", "add_batch",
        "splan", "offset", "in_rows")}
    store_scans = store_dirs = 0
    admitted = sent = 0
    evicted = 0
    state_rows = state_bytes = 0
    for op in ops:
        jobs = in_op(lis["jobs"], "start", op)
        stages = in_op(lis["stages"], "submit", op)
        queries = in_op(lis["queries"], "start", op)
        progress = in_op(lis["progress"], "start", op)
        mine = [s for s in spans if s["op"] == op["id"]]
        wall = op["end"] - op["start"]
        per["gap"].append(wall - union_length([(j["start"], j["end"]) for j in jobs],
                                              op["start"], op["end"]))
        per["jobs"].append(len(jobs))
        per["stages"].append(len(stages))
        per["tasks"].append(sum(s["tasks"] for s in stages))
        per["plan"].append(sum(q["plan_ms"] for q in queries))
        per["task"].append(sum(s["run_ms"] for s in stages))
        per["cpu"].append(sum(s["cpu_ns"] for s in stages) / 1e6)
        per["gc"].append(sum(s["gc_ms"] for s in stages))
        per["spill"].append(sum(s["spill"] for s in stages))
        per["sw"].append(sum(s["shuffle_write"] for s in stages))
        per["sr"].append(sum(s["shuffle_read"] for s in stages))
        per["fetch"].append(sum(s["fetch_wait_ms"] for s in stages))
        if stages:
            longest = max(stages, key=lambda s: s["done"] - s["submit"])
            t = longest["task_ms"]
            per["skew"].append(max(t) / max(median(t), 1.0) if t else 1.0)
        scans = [sc for q in queries for sc in q["scans"]]
        ours = [sc for sc in scans if any(p.startswith(store) for p in sc["paths"])]
        inputs = [sc for sc in scans if sc not in ours]
        store_scans += len(ours)
        store_dirs += sum(len(sc["paths"]) for sc in ours)
        per["sink_read"].append(sum(sc["bytes"] for sc in ours))
        per["src_files"].append(sum(sc["files"] for sc in inputs))
        per["src_bytes"].append(sum(sc["bytes"] for sc in inputs))
        per["src_rows"].append(sum(sc["rows"] for sc in inputs))
        per["src_s"].append(sum(s["end"] - s["start"] for s in mine if s["name"].startswith("sources.")))
        per["views"].append(sum(s["end"] - s["start"] for s in mine if s["name"].startswith("views.")))
        per["rows_w"].append(sum(s["out_rows"] for s in stages))
        per["bytes_w"].append(sum(s["out_bytes"] for s in stages))
        per["files_w"].append(sum(q["written_files"] for q in queries))
        evicted += sum(1 for t in lis["evictions"] if _within(t, op))
        sink_spans = [s for s in mine if s["name"].startswith("sink.")]
        if sink_spans:
            per["sink_s"].append(sum(s["end"] - s["start"] for s in sink_spans))
            commit = 0.0
            for s in sink_spans:
                tagged = [j for j in jobs if any(_tag_under(t, s["id"], span_by_id) for t in j["tags"])]
                last = max((j["end"] for j in tagged), default=s["start"])
                commit += max(0.0, s["end"] - max(last, s["start"]))
            per["commit"].append(commit)
        elif progress:
            per["sink_s"].append(sum(p["add_batch_ms"] for p in progress))
            last = max((j["end"] for j in jobs), default=op["start"])
            per["commit"].append(max(0.0, op["end"] - last))
        else:
            per["sink_s"].append(0.0)
            per["commit"].append(0.0)
        if progress:
            per["trigger"].append(sum(p["trigger_ms"] for p in progress))
            per["add_batch"].append(sum(p["add_batch_ms"] for p in progress))
            per["splan"].append(sum(p["plan_ms"] for p in progress))
            per["offset"].append(sum(p["commit_ms"] + p["wal_ms"] for p in progress))
            rows = sum(p["input_rows"] for p in progress)
            per["in_rows"].append(rows)
            sent += rows
            admitted += sum(s["out_rows"] for s in stages)
            state_rows = progress[-1]["state_rows"]
            state_bytes = progress[-1]["state_bytes"]

    def med(k, scale=1.0):
        return median(per[k]) / scale

    delivered = sum(facts.get("delivered", {}).get(op["id"], 0) for op in ops)
    untraced_ops = [o["end"] - o["start"] for o in timed_ops(raw, False)]
    tail_v, tail_p, tail_n = tail(untraced_ops)
    m = {
        "job.driver_gap_s": (med("gap", MS), "s"),
        "job.jobs": (med("jobs"), "count"),
        "job.stages": (med("stages"), "count"),
        "job.tasks": (med("tasks"), "count"),
        "spark.plan_s": (med("plan", MS), "s"),
        "spark.task_s": (med("task", MS), "s"),
        "spark.task_cpu_s": (med("cpu", MS), "s"),
        "spark.gc_s": (med("gc", MS), "s"),
        "spark.spill_bytes": (med("spill"), "bytes"),
        "spark.task_skew": (med("skew"), "ratio"),
        "spark.shuffle_write_bytes": (med("sw"), "bytes"),
        "spark.shuffle_read_bytes": (med("sr"), "bytes"),
        "spark.fetch_wait_s": (med("fetch", MS), "s"),
        "core.cache_peak_bytes": (lis["cache_peak_bytes"], "bytes"),
        "core.cache_evicted_blocks": (evicted, "count"),
        "sources.s": (med("src_s", MS), "s"),
        "sources.files_probed": (med("src_files"), "count"),
        "sources.input_bytes": (med("src_bytes"), "bytes"),
        "sources.input_rows": (med("src_rows"), "count"),
        "views.build_s": (med("views", MS), "s"),
        "sink.s": (med("sink_s", MS), "s"),
        "sink.read_bytes": (med("sink_read"), "bytes"),
        "sink.rows_written": (med("rows_w"), "count"),
        "sink.bytes_written": (med("bytes_w"), "bytes"),
        "sink.files_written": (med("files_w"), "count"),
        "sink.commit_s": (med("commit", MS), "s"),
        "sink.dirs_per_read": (store_dirs / store_scans if store_scans else 0.0, "count"),
        "streaming.trigger_s": (med("trigger", MS), "s"),
        "streaming.add_batch_s": (med("add_batch", MS), "s"),
        "streaming.plan_s": (med("splan", MS), "s"),
        "streaming.offset_commit_s": (med("offset", MS), "s"),
        "streaming.input_rows": (med("in_rows"), "count"),
        "streaming.admit_ratio": (admitted / sent if sent else 0.0, "ratio"),
        "streaming.state_rows": (state_rows, "count"),
        "streaming.state_bytes": (state_bytes, "bytes"),
        "streaming.fingerprint_collisions": (facts.get("collisions", 0), "count"),
    }
    for row in REGISTRY_ROWS:
        m[f"registry.{row}.s"] = (median(o["end"] - o["start"] for o in ops if o["name"] == row) / MS, "s")
    m["tracing.overhead_s"] = ((median(pass_walls(raw, True)) - median(pass_walls(raw, False))) / MS, "s")
    m["op_tail_s"] = (tail_v / MS, "s")
    m["op_tail_pct"] = (tail_p, "%")
    m["op_tail_n"] = (tail_n, "count")
    m["write_amp"] = (sum(per["rows_w"]) / delivered if delivered else 0.0, "ratio")
    m["store_bytes"] = (raw["store_bytes"], "bytes")
    tops = [s for s in spans if s["parent"] < 0 and any(s["op"] == o["id"] and s["start"] < o["end"] for o in ops)
            and not s["name"].startswith(("sources.", "views."))]
    m["job.self_s"] = (median(selft[s["id"]] for s in tops) / MS, "s")
    return m


def _tag_under(tag, span_id, span_by_id):
    """Whether job tag `pbspan-<id>` names `span_id` or one of its descendants."""
    if not tag.startswith("pbspan-"):
        return False
    sid = int(tag[len("pbspan-"):])
    while sid >= 0:
        if sid == span_id:
            return True
        sid = span_by_id[sid]["parent"] if sid in span_by_id else -1
    return False
