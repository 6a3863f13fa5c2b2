"""Metrics and checks derived from one run's raw record.

The Scala harness writes the raw record: setup times, every operation's
latency and observations, peak RSS and, when traced, a span file. This
module turns it into the end-to-end metrics, the per-layer metrics and the
pass/fail verdict of every check against the generator's ground truth.
"""

import json
import math
import statistics

# ----------------------------------------------------------------- stats

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def rank(p, n):
    """Nearest rank (1-based) of percentile p among n samples."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    xs = sorted(values)
    return xs[rank(p, len(xs)) - 1]


def tail(values):
    """The highest percentile of TAIL_LADDER with at least ten samples
    beyond it, as (value, percentile, samples beyond). With fewer than 20
    samples no rung qualifies and the median stands in, with its count."""
    n = len(values)
    for p in TAIL_LADDER:
        beyond = n - rank(p, n)
        if beyond >= 10:
            return percentile(values, p), p, beyond
    return percentile(values, 50.0), 50.0, n - rank(50.0, n)


# ---------------------------------------------------------------- checks

def _same_rows(got, ref):
    key = lambda r: json.dumps(r, sort_keys=True)
    return sorted(map(key, got)) == sorted(map(key, ref))


def check_corpus_pass(obs, truth):
    """Named failures of one corpus pass (empty when it is correct)."""
    bad = []
    for d, (o, t) in enumerate(zip(obs["days"], truth["days"]), start=1):
        if o["tokens"] != t["tokens"]:
            bad.append(f"day{d}: token totals {o['tokens']} != {t['tokens']}")
        if o["gate_survivors"] != t["gate_survivors"]:
            bad.append(f"day{d}: gate kept {o['gate_survivors']} != {t['gate_survivors']}")
        if o["concordance_hits"] != t["concordance_hits"]:
            bad.append(f"day{d}: concordance hits {o['concordance_hits']} != {t['concordance_hits']}")
        if sorted(map(list, o["exact_dup_groups"])) != t["exact_dup_groups"]:
            bad.append(f"day{d}: exact-duplicate groups differ")
        found = {tuple(p) for p in o["near_dup_pairs"]}
        missed = [p for p in t["near_dup_pairs"] if tuple(p) not in found]
        if missed:
            bad.append(f"day{d}: {len(missed)} planted near-duplicate pairs not found")
        flagged = set(o["contaminated"])
        missed = [i for i in t["contaminated"] if i not in flagged]
        if missed:
            bad.append(f"day{d}: {len(missed)} planted contaminated docs not flagged")
        extra = len(flagged - set(t["contaminated"]))
        if extra > t["bloom_fp_max"]:
            bad.append(f"day{d}: {extra} docs flagged beyond the planted ones (max {t['bloom_fp_max']})")
    return bad


def check_live_counts(obs, truth):
    """Each store's live document count against the ground truth after the
    deliveries landed so far."""
    k = obs["delivered"]
    want = truth["deliveries"][k - 1]["live_docs"]
    return [f"{store} = {n}, ground truth {want} after {k} deliveries"
            for store, n in sorted(obs["store"].items()) if n != want]


def check_serve(obs, truth):
    """Named failures of the serve checks, one entry per failed sample."""
    bad = []
    for r in obs["results"]:
        if not _same_rows(r["got"], r["ref"]):
            ref = "rrfServed" if r["kind"] == "hybrid_batch" else "Bm25.search"
            bad.append(f"request {r['req']} ({r['kind']}, terms {r['terms']}) differs from {ref}")
    if obs["ann_recall"] < truth["ann_recall_floor"]:
        bad.append(f"ANN recall@10 {obs['ann_recall']:.3f} below floor {truth['ann_recall_floor']}")
    return bad + check_live_counts(obs, truth)


def check_ingest(obs, truth):
    """Named failures of the ingest end-state checks."""
    bad = check_live_counts(obs, truth)
    want = truth["deliveries"][obs["delivered"] - 1]["live_docs"]
    for store in sorted(obs["store"]):
        if obs["oneshot"][store] != want:
            bad.append(f"one-shot {store} = {obs['oneshot'][store]}, ground truth {want}")
    for kind in ("bm25", "dedup", "ann"):
        if not _same_rows(obs["store_serves"][kind], obs["oneshot_serves"][kind]):
            bad.append(f"sampled {kind} serves differ from the one-shot build")
    return bad


def verdict(workload, raw, truth):
    """(attempted, failed, named failures). Every timed operation is one
    attempt; an operation fails when it raised or its result is wrong.
    Each end-of-run check (serve, ingest) is one more attempt."""
    ops = raw["ops"]
    names = []
    failed_ops = 0
    for o in ops:
        bad = [f"op {o['i']}: {o['error']}"] if o["error"] else []
        if not bad and workload == "corpus":
            bad = [f"pass {o['i']}: {b}" for b in check_corpus_pass(o["obs"], truth)]
        if bad:
            failed_ops += 1
            names += bad
    attempted, failed = len(ops), failed_ops
    if workload in ("serve", "ingest"):
        obs = raw["obs"]
        if "error" in obs:
            bad, checks = [f"checks: {obs['error']}"], 1
        elif workload == "serve":
            bad, checks = check_serve(obs, truth), len(obs["results"]) + 4
        else:
            bad, checks = check_ingest(obs, truth), 9
        attempted += checks
        failed += min(len(bad), checks)
        names += bad
    return attempted, failed, names


# ------------------------------------------------------ end-to-end metrics

ITEM_UNIT = {"corpus": "docs/s", "serve": "queries/s", "ingest": "docs/s"}


def items_per_s(ops):
    return sum(o["items"] for o in ops) / max(sum(o["ms"] for o in ops), 1e-9) * 1000.0


def kind_p50s(ops):
    """Nearest-rank median latency of each operation kind."""
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o["ms"])
    return {k: percentile(v, 50.0) for k, v in sorted(by.items())}


def end_to_end(workload, raw, truth, attempted, failed):
    """The generic metrics BENCHMARK.json names, plus the
    workload-specific names of the full report. `memory_mb` is the
    program's memory: peak native memory (peak RSS minus the pre-touched
    fixed heap) plus the heap still in use after a full collection at the
    end of the warm-up or of the loop, whichever is larger. `op_p50_ms` is the
    geometric mean over operation kinds of each kind's median latency, so
    every kind of a mixed workload moves it by the same share."""
    ops = [o for o in raw["ops"] if not o["error"]] or raw["ops"]
    ms = [o["ms"] for o in ops]
    rate = items_per_s(ops)
    p50s = kind_p50s(ops)
    m = {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "memory_mb": (raw["peak_rss_mb"] - raw["heap_mb"] + raw["live_heap_mb"], "MB"),
        "items_per_s": (rate, "1/s"),
        "op_p50_ms": (statistics.geometric_mean(p50s.values()), "ms"),
    }
    # the tail over a workload's requests (serve: its reads) or deliveries
    reads = [o["ms"] for o in ops if o["kind"] != "delivery"] if workload == "serve" else ms
    t_val, t_p, t_beyond = tail(reads)
    extra = {
        "op_tail_ms": (t_val, "ms"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "native_peak_mb": (raw["peak_rss_mb"] - raw["heap_mb"], "MB"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
        "failed_share": (failed / attempted, "ratio"),
        "ops_attempted": (attempted, "count"),
        "op_tail_percentile": (t_p, "percentile"),
        "op_tail_samples_beyond": (t_beyond, "count"),
        "session_start_s": (raw["session_start_s"], "s"),
        "prepare_s": (raw["prepare_s"], "s"),
        "setup_max_s": (max(raw["setup_s"]), "s"),
        "loop_s": (raw["loop_s"], "s"),
        "warmup_s": (raw["warmup_s"], "s"),
        "checks_s": (raw["checks_s"], "s"),
    }
    for k, v in p50s.items():
        extra[f"p50_ms.{k}"] = (v, "ms")
    name = {"corpus": "corpus_docs_per_s", "serve": "serve_queries_per_s",
            "ingest": "ingest_docs_per_s"}[workload]
    extra[name] = (rate, ITEM_UNIT[workload])
    if workload == "serve":
        extra["serve_p50_ms"] = (percentile(reads, 50.0), "ms")
        extra["serve_tail_ms"] = extra["op_tail_ms"]
        if "ann_recall" in raw["obs"]:
            extra["ann_recall_at_10"] = (raw["obs"]["ann_recall"], "ratio")
    if workload == "ingest":
        extra["ingest_delivery_p50_ms"] = (percentile(ms, 50.0), "ms")
        extra["ingest_delivery_tail_ms"] = extra["op_tail_ms"]
    obs = raw["obs"]
    if "store_bytes" in obs:
        live_bytes = truth["deliveries"][obs["delivered"] - 1]["live_text_bytes"]
        extra["store_bytes_per_input_byte"] = (obs["store_bytes"] / live_bytes, "ratio")
    return m, extra


# ------------------------------------------------------- per-layer metrics

TOPIC_STAGES = ("assemble_topics", "chunking", "ctfidf_count_terms", "ctfidf_scores",
                "embedder_load", "embedding", "hdbscan", "reduce_clustering",
                "reduce_coordinates", "rollup", "topic_coordinates", "total")
SERVE_KINDS = ("bm25_one", "bm25_batch", "hybrid_batch")
STORES = ("bm25", "dedup", "ann")
SPARK = ("jobs", "stages", "tasks", "failed_tasks", "exec_run_ms", "exec_cpu_ms", "input_bytes",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms")
STREAM = ("batches", "add_batch_ms", "planning_ms", "wal_commit_ms", "state_commit_ms")


def per_layer_names():
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    out = [(f"text.{s}_ms", "ms") for s in
           ("clean", "tokenize", "freq", "concordance", "collocations", "gate", "lm")]
    out += [("cache.calls", "count"), ("cache.busy_ms", "ms"), ("cache.hit_ratio", "ratio"),
            ("embed.texts", "count"), ("embed.busy_ms", "ms")]
    out += [(f"topic.{s}_ms", "ms") for s in TOPIC_STAGES]
    out += [("dedup.exact_ms", "ms"), ("dedup.minhash_ms", "ms"),
            ("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
            ("dedup.pair_yield", "ratio"), ("dedup.near_ms", "ms"), ("dedup.cc_ms", "ms"),
            ("dedup.decontam_ms", "ms")]
    for k in SERVE_KINDS:
        out += [(f"similarity.{k}.construct_ms", "ms"), (f"similarity.{k}.action_ms", "ms"),
                (f"similarity.{k}.jobs", "count"), (f"similarity.{k}.input_bytes", "bytes")]
    for s in STORES:
        out += [(f"store.{s}.append_ms", "ms"), (f"store.{s}.delete_ms", "ms"),
                (f"store.{s}.compact_ms", "ms"), (f"store.{s}.files", "count")]
    out += [("store.write_amp", "ratio")]
    out += [(f"streaming.{s}", "ms" if s.endswith("_ms") else "count") for s in STREAM]
    out += [("streaming.state_rows", "count")]
    out += [(f"spark.{s}", "ms" if s.endswith("_ms") else ("bytes" if s.endswith("bytes") else "count"))
            for s in SPARK]
    out += [("driver.idle_ms", "ms"), ("trace.overhead_share", "ratio")]
    return out


def read_trace(path):
    spans, jobs = [], []
    with open(path, encoding="utf-8") as f:
        for line in f:
            r = json.loads(line)
            (spans if r["type"] == "span" else jobs).append(r)
    return spans, jobs


def covered(t0, t1, intervals):
    """Length of [t0, t1] covered by the union of `intervals`."""
    cut = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in cut:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(spans):
    """Each span's duration minus the part its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - covered(s["t0"], s["t1"], kids.get(s["id"], []))
            for s in spans}


def per_layer(workload, raw, truth, spans, jobs):
    """Per-layer metrics over the traced operations, each per operation
    (per request of that kind for `similarity.*`), counts and ratios as
    measured. A layer that does not run in the workload reads 0.
    `trace.overhead_share` is the time the tracer itself spent in the loop
    (counter reads, listener-bus drains, span records) over the loop's
    time without it."""
    traced = [o for o in raw["ops"] if o["traced"] and not o["error"]]
    n = max(len(traced), 1)
    ids = {o["i"] for o in traced}
    spans = [s for s in spans if s["op"] in ids]
    dur = lambda s: s["t1"] - s["t0"]

    def total(name, f=dur):
        return sum(f(s) for s in spans if s["name"] == name)

    m = {k: 0.0 for k, _ in per_layer_names()}
    for s in ("clean", "tokenize", "freq", "concordance", "collocations", "gate", "lm"):
        m[f"text.{s}_ms"] = total(f"text.{s}") / n
    m["cache.calls"] = sum(1 for s in spans if s["name"] == "cache.withCachedColumn") / n
    m["cache.busy_ms"] = total("cache.withCachedColumn") / n
    for s in ("exact", "minhash", "near", "cc", "decontam"):
        m[f"dedup.{s}_ms"] = total(f"dedup.{s}") / n
    for s in spans:
        for stage, ms in s["a"].get("stages", {}).items():
            if f"topic.{stage}_ms" in m:
                m[f"topic.{stage}_ms"] += ms / n
    ops = [s for s in spans if s["name"].startswith("op.")]
    m["embed.texts"] = sum(s["c"].get("embed.texts", 0) for s in ops) / n
    m["embed.busy_ms"] = sum(s["c"].get("embed.busy_ms", 0) for s in ops) / n
    if workload == "corpus":
        days = [o["obs"]["days"][1] for o in traced]
        distinct = truth["days"][1]["distinct_texts"] * len(traced)
        if distinct:
            m["cache.hit_ratio"] = 1.0 - sum(d["cache_misses"] for d in days) / distinct
        cand = sum(d["candidate_pairs"] for d in days)
        ver = sum(len(d["near_dup_pairs"]) for d in days)
        m["dedup.candidate_pairs"] = cand / n
        m["dedup.verified_pairs"] = ver / n
        m["dedup.pair_yield"] = ver / cand if cand else 0.0
    for k in SERVE_KINDS:
        kn = sum(1 for o in traced if o["kind"] == k)
        if kn:
            m[f"similarity.{k}.construct_ms"] = total(f"similarity.{k}.construct") / kn
            m[f"similarity.{k}.action_ms"] = total(f"similarity.{k}.action") / kn
            both = [s for s in spans if s["name"] in (f"similarity.{k}.construct", f"similarity.{k}.action")]
            m[f"similarity.{k}.jobs"] = sum(s["c"].get("jobs", 0) for s in both) / kn
            m[f"similarity.{k}.input_bytes"] = sum(s["c"].get("input_bytes", 0) for s in both) / kn
    for st in STORES:
        for act in ("append", "delete", "compact"):
            m[f"store.{st}.{act}_ms"] = total(f"store.{st}.{act}") / n
    for st in STORES:
        m[f"store.{st}.files"] = raw["obs"].get("store_files", {}).get(st, 0)
    written = sum(s["c"].get("output_bytes", 0) for s in spans if s["name"].startswith("store."))
    fed = sum(truth["deliveries"][o["obs"]["delivery"]]["text_bytes"] for o in traced
              if "delivery" in o["obs"])
    m["store.write_amp"] = written / fed if fed else 0.0
    for s in STREAM:
        m[f"streaming.{s}"] = sum(o["c"].get(f"stream.{s}", 0) for o in ops) / n
    rows = [o["c"].get("stream.state_rows", 0) for o in ops]
    m["streaming.state_rows"] = rows[-1] if rows else 0
    for s in SPARK:
        m[f"spark.{s}"] = sum(o["c"].get(s, 0) for o in ops) / n
    intervals = [(j["t0"], j["t1"]) for j in jobs]
    m["driver.idle_ms"] = sum(dur(o) - covered(o["t0"], o["t1"], intervals) for o in ops) / n
    own_ms = raw["trace_own_ms"]
    m["trace.overhead_share"] = own_ms / (raw["loop_s"] * 1000.0 - own_ms)
    return m
