"""Seeded input generator for the engine benchmark.

Writes one workload's documents as `docs.jsonl` (doc_id, text, lang) plus
`plan.json`, the planted truth the output checks compare against. The
same (workload, seed) always gives byte-identical files. The engine only
ever sees the generated documents: the JVM side turns them into page
tables, WARC chunks or a documents table through the engine's own
fixture builders (`fixtures.Corpus`, `sources.Warc.write`).

Knobs per workload (see WORKLOADS):
  n_docs          documents generated
  chunks          WARC chunk files the documents are written to (streaming)
  words_median    median words per document (lognormal body sizes)
  words_sigma     lognormal shape; larger = wider size mix
  tail_share      share of giant pages (tail_words words, >= 100 KB html)
  error_share     share of doc ids on the planted error routes; 0.15 keeps
                  fixtures.Corpus's routing (doc_id % 20 in {3, 13, 19})
                  untouched, smaller values skip some error-route ids
  near_dup_share  share of docs that are one-word edits of another doc
  hot_share       share of docs built on one shared boilerplate core
                  (one hot LSH bucket)

Run: python3 enginebench/gen.py --workload extract_batch --seed 1 --out DIR
"""
import argparse
import json
import math
import os
import random

# plain lowercase words: html-safe, so fixtures.PageHtml round-trips them
VOCAB = (
    "spark table row column scan filter join merge sort hash batch stream "
    "window query value data page text block span crawl fetch parse token "
    "lineage commit epoch offset shard bucket band index vector metric cache "
    "driver task stage shuffle write read file chunk record header body link "
    "host url doc word line node edge graph label round plan cost skew spill "
    "alpha beta gamma delta omega river stone cloud field light sound"
).split()

WORKLOADS = {
    # one ExtractJob per op over ~1 KB pages plus a small tail of giant pages
    "extract_batch": dict(n_docs=12000, chunks=0, words_median=70, words_sigma=0.6,
                          tail_share=0.001, tail_words=17000, error_share=0.15,
                          near_dup_share=0.0, hot_share=0.0),
    # many small WARC chunks drained one epoch at a time
    "crawl_stream": dict(n_docs=1200, chunks=8, words_median=70, words_sigma=0.6,
                         tail_share=0.0, tail_words=0, error_share=0.15,
                         near_dup_share=0.0, hot_share=0.0),
    # near-dup pairs plus one hot LSH bucket
    "dedup_hot": dict(n_docs=1000, chunks=0, words_median=80, words_sigma=0.25,
                      tail_share=0.0, tail_words=0, error_share=0.15,
                      near_dup_share=0.05, hot_share=0.04),
}

ERROR_ROUTES = {3: "unexpected", 13: "validation", 19: "payload"}
GARBAGE_ROUTE = 7
MIN_WORDS = 40  # a one-word edit keeps 3-shingle Jaccard >= (n-3)/(n+3) > 0.86


def route(doc_id):
    """The page route fixtures.Corpus.htmlFor gives a doc id."""
    m = doc_id % 20
    if m in ERROR_ROUTES:
        return ERROR_ROUTES[m]
    return "garbage" if m == GARBAGE_ROUTE else "plain"


def _words(rng, n):
    return [rng.choice(VOCAB) for _ in range(n)]


def _body_words(rng, p):
    if p["tail_share"] and rng.random() < p["tail_share"]:
        return p["tail_words"]
    n = int(round(p["words_median"] * math.exp(rng.gauss(0.0, p["words_sigma"]))))
    return max(MIN_WORDS, n)


def _doc_ids(rng, n, error_share):
    """n increasing doc ids; error-route ids are kept with probability
    error_share / 0.15, so 0.15 gives the contiguous range 0..n-1."""
    keep = min(1.0, error_share / 0.15)
    out, i = [], 0
    while len(out) < n:
        if i % 20 not in ERROR_ROUTES or keep >= 1.0 or rng.random() < keep:
            out.append(i)
        i += 1
    return out


def generate(workload, seed):
    """Return (docs, plan) for one workload and seed."""
    p = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    ids = _doc_ids(rng, p["n_docs"], p["error_share"])
    n_hot = int(round(p["hot_share"] * len(ids)))
    n_dup = int(round(p["near_dup_share"] * len(ids)))
    core = _words(rng, 100)
    # which positions are hot-core docs and which are near-dup copies
    slots = list(range(len(ids)))
    rng.shuffle(slots)
    hot = set(slots[:n_hot])
    dup = set(slots[n_hot:n_hot + n_dup])
    texts, pairs, hot_ids = {}, [], []
    for k, doc_id in enumerate(ids):
        if k in hot:
            texts[doc_id] = " ".join(core + _words(rng, 4))
            hot_ids.append(doc_id)
        elif k not in dup:
            texts[doc_id] = " ".join(_words(rng, _body_words(rng, p)))
    hot_set = set(hot_ids)
    base = [d for d in ids if d in texts and d not in hot_set]
    for k, doc_id in enumerate(ids):
        if k in dup:
            src = rng.choice(base)
            ws = texts[src].split(" ")
            j = rng.randrange(len(ws))
            ws[j] = rng.choice([w for w in VOCAB if w != ws[j]])
            texts[doc_id] = " ".join(ws)
            pairs.append(sorted((src, doc_id)))
    docs = [{"doc_id": d, "text": texts[d], "lang": "en"} for d in ids]
    return docs, _plan(workload, seed, docs, pairs, hot_ids)


def _plan(workload, seed, docs, pairs, hot_ids):
    routes = {}
    for d in docs:
        r = route(d["doc_id"])
        routes[r] = routes.get(r, 0) + 1
    # planted clusters: each source with all of its near-dup copies, and
    # the hot bucket as one cluster
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in pairs:
        parent[find(b)] = find(a)
    groups = {}
    for a, b in pairs:
        for x in (a, b):
            groups.setdefault(find(x), set()).add(x)
    clusters = sorted(sorted(g) for g in groups.values())
    if len(hot_ids) > 1:
        clusters.append(sorted(hot_ids))
    return {
        "workload": workload, "seed": seed, "params": WORKLOADS[workload],
        "docs": len(docs), "routes": dict(sorted(routes.items())),
        "warc_records": len(docs) - routes.get("validation", 0),
        "near_dup_pairs": sorted(pairs), "clusters": clusters,
    }


def write(workload, seed, out_dir):
    docs, plan = generate(workload, seed)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "docs.jsonl"), "w", encoding="utf-8", newline="\n") as f:
        for d in docs:
            f.write(json.dumps(d, separators=(",", ":")) + "\n")
    with open(os.path.join(out_dir, "plan.json"), "w", encoding="utf-8", newline="\n") as f:
        json.dump(plan, f, sort_keys=True, separators=(",", ":"))
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    plan = write(a.workload, a.seed, a.out)
    print(json.dumps({"docs": plan["docs"], "routes": plan["routes"]}))


if __name__ == "__main__":
    main()
