"""Turns the raw record a benchmark process writes (calls, set-up
reps, checks, spans) into the end-to-end and per-layer metrics.

Rules:
- a timing is reported as a median; the tail is the highest percentile
  that has at least ten samples beyond it (`tail`);
- a failed call is a miss: its latency sample is `MISS_FACTOR` times
  the slowest call of the run, so it sorts above every success and is
  never a fast sample; it completes no items but its time counts;
- throughput is items completed per second of the calls that complete
  items (the writes of vector_serve complete none, and their cost is
  reported per layer);
- per-layer numbers come from the measured calls of a traced run.
"""
import statistics

MISS_FACTOR = 10.0

# Calls the benchmark makes, by layer; each gets a `<layer>.<fn>_s`
# median latency and a `<layer>.<fn>_first_ratio` metric.
LAYER_FNS = {
    "ann": ["hnsw_search", "hnsw_search_filtered", "ann_sq8", "ann_pq", "ann_ivf",
            "hnsw_insert_delta", "hnsw_delete_delta", "hnsw_upsert_roundtrip",
            "hnsw_edges", "hnsw_edges_approx", "pq_codes", "sq8_codes"],
    "knn": ["knn_topk", "knn_batch", "knn_graph"],
    "similarity": ["kmeans_iter", "semantic_dedup", "near_dup_pairs"],
    "textops": ["quality_filter", "langid_trigram", "dedup_docs_exact", "minhash_lsh_dedup",
                "simhash64_near_dup", "substring_dedup", "contamination_scan", "tfidf_topk",
                "training_manifest"],
}
# Set-up calls traced as their own spans.
SETUP_FNS = {"ann": ["ensure_full_index", "ensure_full_index_vec", "ensure_base_index"]}

SPARK_METRICS = [
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.task_busy_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.no_task_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"), ("spark.input_records", "count"),
    ("spark.rows_read_per_result", "ratio"),
]


def per_layer_spec():
    """(name, unit, better) for every per-layer metric, in output order."""
    out = [(n, u, "lower") for n, u in SPARK_METRICS]
    for layer, fns in LAYER_FNS.items():
        out += [(f"{layer}.{fn}_s", "s", "lower") for fn in fns]
        if layer == "ann":
            out += [(f"ann.{fn}_s", "s", "lower") for fn in SETUP_FNS["ann"]]
            out += [("ann.calls", "count", "higher"), ("ann.failed", "count", "lower")]
        out += [(f"{layer}.self_s", "s", "lower")]
        out += [(f"{layer}.{fn}_first_ratio", "ratio", "lower") for fn in fns]
    out += [("kernel.dot64_ns", "ns", "lower"), ("kernel.dot128_ns", "ns", "lower"),
            ("baseline.build_s", "s", "lower"), ("baseline.search_s", "s", "lower"),
            ("baseline.insert_points_per_s", "1/s", "higher"),
            ("baseline.distance_evals", "count", "lower"), ("baseline.flops", "count", "lower"),
            ("baseline.self_s", "s", "lower"),
            ("setup.generate_s", "s", "lower"), ("setup.store_build_s", "s", "lower"),
            ("setup.warmup_s", "s", "lower"),
            ("quality.recall_at_10", "fraction", "higher"),
            ("quality.edge_recall", "fraction", "higher"),
            ("quality.dup_recall", "fraction", "higher"),
            ("ops.failed_frac", "fraction", "lower"),
            ("trace.overhead_frac", "fraction", "lower")]
    return out


END_TO_END = [("setup_s", "s"), ("items_per_s", "1/s")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile) of the highest percentile, from the median
    up, that has at least ten samples beyond it. With fewer than 20
    samples no percentile above the median has ten beyond it, and the
    median is returned."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    i = n - 11
    if i < (n - 1) / 2:
        return median(s), 50.0
    return s[i], 100.0 * (i + 1) / n


def latencies(ops):
    """Latency samples of the given calls, failures as misses."""
    if not ops:
        return []
    miss = MISS_FACTOR * max(o["dur_s"] for o in ops)
    return [o["dur_s"] if o["ok"] else miss for o in ops]


def loop_ops(raw):
    return [o for o in raw["ops"] if o["phase"] == "loop"]


def end_to_end(raw):
    ops = loop_ops(raw)
    lat = latencies(ops)
    busy = sum(o["dur_s"] for o in ops if o["items"] > 0)
    items = sum(o["items"] for o in ops if o["ok"])
    setup = [sum(r.values()) for r in raw["setup"]]
    p_tail, pct = tail(lat)
    values = {
        "setup_s": median(setup) + raw["extra"].get("setup.warmup_s", 0.0),
        "items_per_s": items / busy if busy > 0 else 0.0,
    }
    detail = {"ops": len(ops), "failed": sum(not o["ok"] for o in ops),
              "p50_s": median(lat), "tail_s": p_tail, "tail_percentile": pct,
              "setup_reps": len(setup)}
    return values, detail


def hash_checks(raw):
    """Each call's result hash must be identical across its reps on the
    same input (same fn and argument)."""
    seen = {}
    for o in raw["ops"]:
        if o["ok"] and o["hash"]:
            seen.setdefault((o["layer"], o["fn"], o["arg"]), set()).add(o["hash"])
    return [{"name": f"{l}.{f}{'[' + a + ']' if a else ''} result hash stable across reps",
             "ok": len(h) == 1, "detail": "" if len(h) == 1 else f"{len(h)} distinct hashes"}
            for (l, f, a), h in sorted(seen.items())]


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    dur = span["end_us"] - span["start_us"]
    return dur - union_length([(c["start_us"], c["end_us"]) for c in children],
                              span["start_us"], span["end_us"])


def per_layer(raw):
    spec = per_layer_spec()
    out = {name: 0.0 for name, _, _ in spec}
    ops = raw["ops"]
    loop = loop_ops(raw)
    traced = loop if raw["trace"] else []
    spans = raw.get("spans", [])
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    span_by_id = {s["id"]: s for s in spans}

    # Spark: jobs → stages → tasks under each traced loop call
    tot = {k: 0.0 for k, _ in SPARK_METRICS}
    rows = 0
    for o in traced:
        rows += o["rows"]
        op_span = span_by_id.get(o["span"])
        jobs = by_parent.get(o["span"], [])
        stages = [st for j in jobs for st in by_parent.get(j["id"], [])]
        tasks = [t for st in stages for t in by_parent.get(st["id"], [])]
        tot["spark.jobs_per_op"] += len(jobs)
        tot["spark.stages_per_op"] += len(stages)
        tot["spark.tasks_per_op"] += len(tasks)
        for t in tasks:
            a = t["attrs"]
            tot["spark.task_busy_s"] += a.get("run_s", 0.0)
            tot["spark.task_cpu_s"] += a.get("cpu_s", 0.0)
            tot["spark.gc_s"] += a.get("gc_s", 0.0)
            tot["spark.shuffle_write_bytes"] += a.get("shuffle_write_bytes", 0.0)
            tot["spark.shuffle_read_bytes"] += a.get("shuffle_read_bytes", 0.0)
            tot["spark.spill_bytes"] += a.get("spill_bytes", 0.0)
            tot["spark.input_records"] += a.get("input_records", 0.0)
        if op_span:
            tot["spark.no_task_s"] += self_time(op_span, tasks) / 1e6
    if traced:
        for k in tot:
            if k != "spark.rows_read_per_result":
                out[k] = tot[k] / len(traced)
        out["spark.rows_read_per_result"] = tot["spark.input_records"] / max(rows, 1)

    # per-call medians, self time and first-rep/later-rep ratios
    for layer, fns in LAYER_FNS.items():
        layer_self = []
        for fn in fns:
            mine = [o for o in traced if o["layer"] == layer and o["fn"] == fn]
            if mine:
                out[f"{layer}.{fn}_s"] = median(latencies(mine))
            reps = [o for o in ops if o["layer"] == layer and o["fn"] == fn and o["ok"]]
            reps = [o for o in reps if o["arg"] == reps[0]["arg"]] if reps else []
            if len(reps) >= 2:
                later = median([o["dur_s"] for o in reps[1:]])
                out[f"{layer}.{fn}_first_ratio"] = reps[0]["dur_s"] / later if later > 0 else 0.0
            for o in mine:
                sp = span_by_id.get(o["span"])
                if sp:
                    layer_self.append(self_time(sp, by_parent.get(o["span"], [])) / 1e6)
        if layer_self:
            out[f"{layer}.self_s"] = median(layer_self)
    for layer, fns in SETUP_FNS.items():
        for fn in fns:
            ds = [(s["end_us"] - s["start_us"]) / 1e6 for s in spans
                  if s["kind"] == "setup" and s["name"] == f"{layer}.{fn}"]
            if ds:
                out[f"{layer}.{fn}_s"] = median(ds)
    ann = [o for o in loop if o["layer"] == "ann"]
    out["ann.calls"] = float(len(ann))
    out["ann.failed"] = float(sum(not o["ok"] for o in ann))

    # baseline phases, kernel loop, set-up phases, quality
    extra = raw.get("extra", {})
    builds = [v for k, v in extra.items() if k.startswith("baseline.build_s.")]
    searches = [v for k, v in extra.items() if k.startswith("baseline.search_s.")]
    if builds:
        n, q, dim = 100000, 10000, 128
        out["baseline.build_s"] = median(builds)
        out["baseline.search_s"] = median(searches)
        out["baseline.insert_points_per_s"] = n / median(builds)
        out["baseline.distance_evals"] = float(n * q)
        out["baseline.flops"] = float(2 * n * q * dim)
        base = [self_time(span_by_id[o["span"]], by_parent.get(o["span"], [])) / 1e6
                for o in traced if o["layer"] == "baseline" and o["span"] in span_by_id]
        if base:
            out["baseline.self_s"] = median(base)
    for k in ("kernel.dot64_ns", "kernel.dot128_ns"):
        out[k] = extra.get(k, 0.0)
    for phase in ("generate_s", "store_build_s", "warmup_s"):
        vals = [r[phase] for r in raw["setup"] if phase in r]
        if vals:
            out[f"setup.{phase}"] = median(vals)
    out["setup.warmup_s"] += extra.get("setup.warmup_s", 0.0)
    serve = [v for k, v in extra.items() if k.startswith("recall.") and
             k.split(".", 1)[1] in ("hnsw_search", "hnsw_search_filtered", "ann_sq8", "ann_pq", "ann_ivf")]
    dups = [v for k, v in extra.items() if k.startswith("recall.") and
            k.split(".", 1)[1] in ("minhash_lsh_dedup", "simhash64_near_dup", "semantic_dedup")]
    if serve:
        out["quality.recall_at_10"] = statistics.mean(serve)
    if "recall.hnsw_edges_approx" in extra:
        out["quality.edge_recall"] = extra["recall.hnsw_edges_approx"]
    if dups:
        out["quality.dup_recall"] = statistics.mean(dups)
    if loop:
        out["ops.failed_frac"] = sum(not o["ok"] for o in loop) / len(loop)

    return out
