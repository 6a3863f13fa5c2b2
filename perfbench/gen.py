"""Seeded input generator for the layered benchmark.

`python3 perfbench/gen.py --workload corpus|serve|ingest --seed N --out DIR`
writes the workload's inputs as JSON-lines files plus `truth.json`, the
ground-truth sidecar the checks compare against. The program under test
reads only the input files; it never sees the truth or the seed. The same
seed gives byte-identical files (stdlib only: `random.Random(seed)`, sorted
JSON keys, no wall-clock or hash-order dependence).

Input properties the generator varies (see PROFILES):
  - Zipf vocabulary whose top ranks are the quality gate's stopwords, so
    stopword-class terms reach df ~ N;
  - log-normal document lengths;
  - a share of zh/ja/ko documents built from the bundled dictionaries;
  - planted exact duplicates, near-duplicates and contamination n-grams;
  - the day-2 overlap share (TextCache hits);
  - query-pool skew and term classes (stopword / rare / absent);
  - delivery size, replace share and takedown share.
"""

import argparse
import bisect
import json
import math
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
DICT_DIR = os.path.join(HERE, "..", "src", "main", "resources", "graft")

# The quality gate's stopword list (graft.text.TextAnalysis.EnStopwords);
# they take the top Zipf ranks so every en document carries some.
STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "it", "that", "for", "on", "an"]
# The corpus workload's concordance search word (Corpus.SearchWord).
SEARCH_WORD = "that"
# PlainTokenizer drops these as special tokens; never generate them.
SPECIAL = {"cls", "sep", "pad", "unk", "mask"}

PROFILES = {
    "corpus": {
        "vocab": 6000, "zipf_s": 1.05, "len_median": 110, "len_sigma": 0.6,
        "len_min": 20, "len_max": 600, "day_docs": 3000, "cjk_share": 0.06,
        "dup_groups": 20, "near_pairs": 20, "contaminated": 20, "junk": 8,
        "eval_passages": 30, "day2_overlap": 0.4,
    },
    "serve": {
        "vocab": 6000, "zipf_s": 1.05, "len_median": 110, "len_sigma": 0.6,
        "len_min": 20, "len_max": 400, "base_docs": 1000, "deliveries": 8,
        "delivery_docs": 60, "replace_share": 0.1, "takedown_share": 0.05,
        "junk": 2, "resends": 2, "pool": 200, "query_zipf_s": 1.1, "batch": 16,
    },
    "ingest": {
        "vocab": 6000, "zipf_s": 1.05, "len_median": 110, "len_sigma": 0.5,
        "len_min": 20, "len_max": 300, "base_docs": 1000, "deliveries": 60,
        "delivery_docs": 120, "replace_share": 0.1, "takedown_share": 0.05,
        "junk": 3, "resends": 3,
    },
}

# The serve operation log repeats this cycle (Serve.cycle): one delivery
# into the live stores, then one request of each read kind. The equal
# shares are an assumption: no observed request mix exists for this
# engine, and the sessions of the cited top-k work are not broken down by
# request kind. Equal shares keep every kind in every run.
SERVE_CYCLE = ["delivery", "bm25_one", "bm25_batch", "hybrid_batch"]
# Recall@10 the IVF-PQ serve (8 cells, nProbe 3, 8x16 residual PQ) must
# reach against exact cosine top-10 when the queries are documents' own
# vectors. Measured 0.79-0.84; the floor catches broken probing or
# encoding, not normal PQ loss.
ANN_RECALL_FLOOR = 0.5
# Query term classes: a stopword-class term (df ~ N, so MaxScore pruning
# engages), rare and mid-df terms, and absent terms (df = 0).
QUERY_CLASSES = [("stop", "rare", "mid"), ("rare", "mid"),
                 ("stop", "rare", "mid", "absent"), ("rare", "mid", "absent")]


def make_vocab(rng, n):
    cons = "bcdfghjklmnprstvwz"
    vows = "aeiou"
    seen = set(STOPWORDS) | SPECIAL
    words = list(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    def __init__(self, n, s):
        acc, cum = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r ** s
            cum.append(acc)
        self.cum = cum

    def draw(self, rng, k):
        total = self.cum[-1]
        return [bisect.bisect_left(self.cum, rng.random() * total) for _ in range(k)]


def doc_len(rng, p):
    n = int(round(math.exp(rng.gauss(math.log(p["len_median"]), p["len_sigma"]))))
    return max(p["len_min"], min(p["len_max"], n))


# ------------------------------------------------------------ gate rules

def gate_metrics(words):
    """The batch curation gate's inputs for a space-joined lowercase ASCII
    document: TextAnalysis.qualityMetrics(keep) and Repetition's fractions.
    Exact for generated en text, whose whitespace tokens are its plain
    tokens (no punctuation, no digits, no case)."""
    n = len(words)
    keep = n >= 10 and any(w in STOPWORDS for w in words)
    if n == 0:
        return keep, 0.0, 0.0, 0.0
    counts = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    dup_word = 1.0 - len(counts) / n
    top_word = max(counts.values()) / n
    bigrams = [words[i] + " " + words[i + 1] for i in range(n - 1)]
    dup_bigram = 1.0 - len(set(bigrams)) / len(bigrams) if bigrams else 0.0
    return keep, dup_word, top_word, dup_bigram


def passes_batch_gate(words):
    """quality keep AND Repetition.repetitionGate at its defaults."""
    keep, dw, tw, db = gate_metrics(words)
    return keep and dw <= 0.8 and tw <= 0.3 and db <= 0.6


def passes_stream_gate(words):
    """TextStream.curationGate at its default maxDupWordFrac = 0.6."""
    keep, dw, _, _ = gate_metrics(words)
    return keep and dw <= 0.6


# ------------------------------------------------------- CJK vocabularies

def _in_class(lang, cp):
    han = 0x4E00 <= cp <= 0x9FFF
    if lang == "zh":
        return han
    if lang == "ja":
        return han or 0x3041 <= cp <= 0x3096 or 0x30A1 <= cp <= 0x30FA or cp == 0x30FC
    return 0xAC00 <= cp <= 0xD7A3


def _best_route(word, freqs, log_total, forbid_whole):
    """ZhDictSegmenter.cut's max-probability DP score over `word`; with
    `forbid_whole` the single whole-word edge is excluded."""
    n = len(word)
    max_len = max(len(w) for w in freqs)
    best = [0.0] * (n + 1)
    for p in range(n - 1, -1, -1):
        score = float("-inf")
        for e in range(p + 1, min(n, p + max_len) + 1):
            if forbid_whole and p == 0 and e == n:
                continue
            w = word[p:e]
            f = freqs.get(w, 1) if e == p + 1 else freqs.get(w, 0)
            if f > 0:
                score = max(score, math.log(f) - log_total + best[e])
        best[p] = score
    return best[0]


def cjk_words(lang):
    """Dictionary words the `local:<lang>-dict` segmenter returns whole when
    they stand alone, with a clear margin over any split, so the token count
    of a space-joined CJK document is exactly its word count."""
    freqs = {}
    with open(os.path.join(DICT_DIR, f"{lang}_dict.txt"), encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                w, c = line.split()
                freqs[w] = int(c)
    log_total = math.log(sum(freqs.values()))
    out = []
    for w in sorted(freqs):
        if not all(_in_class(lang, ord(c)) for c in w):
            continue
        if len(w) > 1:
            whole = math.log(freqs[w]) - log_total
            if whole <= _best_route(w, freqs, log_total, True) + 1e-6:
                continue
        out.append(w)
    return out


# -------------------------------------------------------------- writers

def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, ensure_ascii=False))
            f.write("\n")


def write_json(path, obj):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        json.dump(obj, f, sort_keys=True, ensure_ascii=False)
        f.write("\n")


class Texts:
    """Document text source shared by the three workloads."""

    def __init__(self, rng, p):
        self.rng, self.p = rng, p
        self.vocab = make_vocab(rng, p["vocab"])
        self.zipf = Zipf(len(self.vocab), p["zipf_s"])

    def words(self, n=None):
        n = n if n is not None else doc_len(self.rng, self.p)
        return [self.vocab[i] for i in self.zipf.draw(self.rng, n)]

    def gated_words(self, gate, n=None):
        while True:
            ws = self.words(n)
            if gate(ws):
                return ws

    def junk(self):
        """A document both gates drop: too short, or one word repeated."""
        if self.rng.random() < 0.5:
            return self.words(self.rng.randint(3, 8))
        return [self.rng.choice(self.vocab[20:200])] * self.rng.randint(30, 60)

    def mutate_one(self, ws):
        """Replace one mid-document word: a near-duplicate whose 3-shingle
        Jaccard stays above 0.9 for the >= 100-word sources it is given."""
        out = list(ws)
        i = len(out) // 2
        rep = out[i]
        while rep == out[i]:
            rep = self.rng.choice(self.vocab[100:])
        out[i] = rep
        return out


# --------------------------------------------------------------- corpus

def gen_corpus(seed, out):
    p = PROFILES["corpus"]
    rng = random.Random(seed)
    tx = Texts(rng, p)
    cjk = {lang: cjk_words(lang) for lang in ("zh", "ja", "ko")}
    eval_vocab = ["zq" + w for w in make_vocab(random.Random(seed + 7), 400)[len(STOPWORDS):]]
    evals = [[rng.choice(eval_vocab) for _ in range(12)] for _ in range(p["eval_passages"])]
    write_jsonl(os.path.join(out, "eval.jsonl"),
                [{"eval_id": i, "text": " ".join(e)} for i, e in enumerate(evals)])

    next_id = [1]

    def new_id():
        next_id[0] += 1
        return next_id[0] - 1

    truth = {"days": []}
    day1_plain = []
    for day in (1, 2):
        docs = []  # (id, lang, words)
        n = p["day_docs"]
        if day == 2:
            k = int(n * p["day2_overlap"])
            for ws in rng.sample(day1_plain, k):
                docs.append((new_id(), "en", ws))
        planted_dup, planted_near, planted_cont = [], [], []
        for _ in range(p["dup_groups"]):
            ws = tx.gated_words(passes_batch_gate)
            ids = [new_id() for _ in range(rng.randint(2, 4))]
            docs += [(i, "en", ws) for i in ids]
            planted_dup.append(ids)
        for _ in range(p["near_pairs"]):
            ws = tx.gated_words(passes_batch_gate, rng.randint(100, 300))
            while True:
                cp = tx.mutate_one(ws)
                if passes_batch_gate(cp):
                    break
            a, b = new_id(), new_id()
            docs += [(a, "en", ws), (b, "en", cp)]
            planted_near.append([a, b])
        for _ in range(p["contaminated"]):
            ws = tx.gated_words(passes_batch_gate)
            e = rng.choice(evals)
            s = rng.randint(0, len(e) - 6)
            at = rng.randint(0, len(ws))
            ws = ws[:at] + e[s:s + 6] + ws[at:]
            i = new_id()
            docs.append((i, "en", ws))
            planted_cont.append(i)
        for _ in range(p["junk"]):
            docs.append((new_id(), "en", tx.junk()))
        while len(docs) < n:
            i = new_id()
            if rng.random() < p["cjk_share"]:
                lang = rng.choice(("zh", "ja", "ko"))
                ws = [rng.choice(cjk[lang]) for _ in range(rng.randint(20, 60))]
                docs.append((i, lang, ws))
            else:
                ws = tx.words()
                docs.append((i, "en", ws))
                if day == 1 and passes_batch_gate(ws):
                    day1_plain.append(ws)
        rng.shuffle(docs)
        write_jsonl(os.path.join(out, f"day{day}.jsonl"),
                    [{"doc_id": i, "lang": lang, "text": " ".join(ws)} for i, lang, ws in docs])

        tokens = {"en": 0, "zh": 0, "ja": 0, "ko": 0}
        by_text = {}
        gated = 0
        for i, lang, ws in docs:
            tokens[lang] += len(ws)
            if passes_batch_gate(ws):
                gated += 1
                by_text.setdefault(" ".join(ws), []).append(i)
        groups = sorted(sorted(ids) for ids in by_text.values() if len(ids) > 1)
        truth["days"].append({
            "docs": len(docs),
            "text_bytes": sum(len(" ".join(ws).encode("utf-8")) for _, _, ws in docs),
            "distinct_texts": len({" ".join(ws) for _, _, ws in docs}),
            "tokens": tokens,
            "concordance_hits": sum(" ".join(ws).count(SEARCH_WORD) for _, lang, ws in docs if lang == "en"),
            "gate_survivors": gated,
            "exact_dup_groups": groups,
            "near_dup_pairs": sorted(planted_near),
            "contaminated": sorted(planted_cont),
            "bloom_fp_max": int(0.02 * gated) + 5,
        })
    write_json(os.path.join(out, "truth.json"), truth)


# ---------------------------------------------------------------- serve

def gen_serve(seed, out):
    p = PROFILES["serve"]
    rng = random.Random(seed)
    tx = Texts(rng, p)
    base = [{"doc_id": i, "text": " ".join(tx.words())} for i in range(1, p["base_docs"] + 1)]
    write_jsonl(os.path.join(out, "base.jsonl"), base)
    deliveries = gen_deliveries(rng, tx, p, out, base)

    df = {}
    for r in base:
        for w in set(r["text"].split()):
            df[w] = df.get(w, 0) + 1
    # Narrow df bands, so a class's queries cost about the same on every
    # seed and the per-run sample of queries does not decide the latency.
    present = sorted(w for w in df if w not in STOPWORDS)
    rare = [w for w in present if 3 <= df[w] <= 8]
    mid = [w for w in present if 60 <= df[w] <= 120]
    hot = ["the", "of", "and"]
    absent = ["zx" + w for w in tx.vocab[len(STOPWORDS):len(STOPWORDS) + 200]]
    # Equal query shares per term class. The per-call request of cycle c
    # takes its query from class c mod 4; within a class, and across the
    # pool for batches, queries are drawn Zipf-skewed, so hot queries repeat.
    pool, by_class = [], []
    for cls in QUERY_CLASSES:
        ids = []
        for _ in range(p["pool"] // len(QUERY_CLASSES)):
            terms = [rng.choice({"stop": hot, "rare": rare, "mid": mid, "absent": absent}[c]) for c in cls]
            terms = list(dict.fromkeys(terms))
            ids.append(len(pool))
            pool.append({"qid": len(pool), "terms": terms, "text": " ".join(terms)})
        rng.shuffle(ids)
        by_class.append(ids)
    write_jsonl(os.path.join(out, "queries.jsonl"), pool)

    # Delivery 0 lands in the warm-up; the log's cycles take the rest.
    zipf_pool = Zipf(len(pool), p["query_zipf_s"])
    zipf_class = Zipf(len(by_class[0]), p["query_zipf_s"])
    order = list(range(len(pool)))
    rng.shuffle(order)
    reqs = []
    for r in range(len(SERVE_CYCLE) * (p["deliveries"] - 1)):
        c, kind = divmod(r, len(SERVE_CYCLE))
        kind = SERVE_CYCLE[kind]
        row = {"req": r, "kind": kind, "qids": [], "delivery": None}
        if kind == "delivery":
            row["delivery"] = c + 1
        elif kind == "bm25_one":
            cls = by_class[c % len(by_class)]
            row["qids"] = [cls[zipf_class.draw(rng, 1)[0]]]
        else:
            row["qids"] = [order[i] for i in zipf_pool.draw(rng, p["batch"])]
        reqs.append(row)
    write_jsonl(os.path.join(out, "requests.jsonl"), reqs)

    write_json(os.path.join(out, "truth.json"), {"ann_recall_floor": ANN_RECALL_FLOOR,
                                                 "base_docs": len(base), "deliveries": deliveries})


# ----------------------------------------------------------- deliveries

def gen_deliveries(rng, tx, p, out, base):
    """Writes `deliveries/NNNN.jsonl` and `NNNN.takedowns.jsonl` on top of
    the `base` documents and returns each delivery's ground truth. A
    delivery holds new documents, re-delivered documents with changed text
    (new ids; the old ids go on its takedown list), junk the streaming gate
    drops and re-sends of earlier streamed text its exact dedup drops; it
    also takes down a share of other live documents."""
    next_id = max(r["doc_id"] for r in base) + 1
    live = {r["doc_id"]: r["text"] for r in base}
    streamed = []  # texts admitted by earlier deliveries (resend sources)
    deliveries = []
    d_dir = os.path.join(out, "deliveries")
    os.makedirs(d_dir, exist_ok=True)
    for d in range(p["deliveries"]):
        ts = f"2026-01-01T00:{d // 60:02d}:{d % 60:02d}"
        n = p["delivery_docs"]
        n_rep = int(n * p["replace_share"])
        n_down = int(n * p["takedown_share"])
        rows, admitted = [], []
        for _ in range(n - n_rep):
            t = " ".join(tx.gated_words(passes_stream_gate))
            rows.append({"doc_id": next_id, "text": t, "ts": ts})
            admitted.append(next_id)
            next_id += 1
        candidates = sorted(live)
        picks = rng.sample(candidates, n_rep + n_down)
        replaced, down = picks[:n_rep], picks[n_rep:]
        for _ in replaced:
            t = " ".join(tx.gated_words(passes_stream_gate))
            rows.append({"doc_id": next_id, "text": t, "ts": ts})
            admitted.append(next_id)
            next_id += 1
        for _ in range(p["junk"]):
            rows.append({"doc_id": next_id, "text": " ".join(tx.junk()), "ts": ts})
            next_id += 1
        for t in rng.sample(streamed, min(p["resends"], len(streamed))):
            rows.append({"doc_id": next_id, "text": t, "ts": ts})
            next_id += 1
        rng.shuffle(rows)
        for r in rows:
            if r["doc_id"] in admitted:
                live[r["doc_id"]] = r["text"]
                streamed.append(r["text"])
        takedowns = sorted(replaced + down)
        for i in takedowns:
            del live[i]
        write_jsonl(os.path.join(d_dir, f"{d:04d}.jsonl"), rows)
        write_jsonl(os.path.join(d_dir, f"{d:04d}.takedowns.jsonl"), [{"doc_id": i} for i in takedowns])
        deliveries.append({
            "docs": len(rows),
            "text_bytes": sum(len(r["text"].encode("utf-8")) for r in rows),
            "admitted": sorted(admitted),
            "takedowns": takedowns,
            "live_docs": len(live),
            "live_text_bytes": sum(len(t.encode("utf-8")) for t in live.values()),
        })
    return deliveries


# --------------------------------------------------------------- ingest

def gen_ingest(seed, out):
    p = PROFILES["ingest"]
    rng = random.Random(seed)
    tx = Texts(rng, p)
    base = [{"doc_id": i, "text": " ".join(tx.gated_words(passes_stream_gate))}
            for i in range(1, p["base_docs"] + 1)]
    write_jsonl(os.path.join(out, "base.jsonl"), base)
    deliveries = gen_deliveries(rng, tx, p, out, base)
    write_json(os.path.join(out, "truth.json"), {"base_docs": len(base), "deliveries": deliveries})


GENERATORS = {"corpus": gen_corpus, "serve": gen_serve, "ingest": gen_ingest}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
