#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes `events.parquet`, `documents.parquet`, `paths/documents.parquet` and
`embeddings.parquet` with the fixture schemas the engine's loaders expect
(FIXTURES.md), plus `inputs.json` recording the seed and every input
property used.

The same seed and properties give byte-identical files; the properties that
change engine behaviour are arguments, not drawn from the seed, so runs of
one workload under different seeds do the same amount of work:

  --events / --keys        event count and distinct user_id count (state size)
  --mix                    event-type mix, e.g. click=40,view=30,...
  --span-minutes           event-time span (how many windows a run closes)
  --docs / --chain-max     document count, and the longest near-clique
                           duplicate chain (chains are 2 to max long)
  --path-len               length of the one path-shaped chain in
                           `paths/documents.parquet`; it sets the fixpoint
                           rounds of connected components
  --vecs                   embedding count

Document length and the embeddings' planted cluster count are fixed
(DOC_WORDS, PATH_DOC_WORDS, CLUSTERS) and recorded too.

Usage:
  python3 gen.py --out DIR --seed N [property flags]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
BASE_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DIM = 64
DOC_WORDS = 50       # words per near-clique document
PATH_DOC_WORDS = 34  # words per path document: ~200 char 5-grams
CLUSTERS = 10        # planted embedding clusters
VOCAB = ["w%03d%s" % (i, "abcdefghij"[i % 10]) for i in range(4000)]


def parse_mix(spec):
    weights = {}
    for part in spec.split(","):
        k, v = part.split("=")
        if k not in EVENT_TYPES:
            raise SystemExit(f"unknown event type in --mix: {k}")
        weights[k] = float(v)
    return [weights.get(t, 0.0) for t in EVENT_TYPES]


def gen_events(rng, n, keys, mix, span_minutes):
    span_us = span_minutes * 60 * 1_000_000
    if n > span_us:
        raise SystemExit("--span-minutes too short for distinct timestamps")
    # distinct, sorted microsecond timestamps: replay order is total
    ts = np.sort(rng.choice(span_us, size=n, replace=False)) + BASE_US
    p = np.asarray(mix, dtype=float)
    etype = rng.choice(len(EVENT_TYPES), size=n, p=p / p.sum())
    values = np.round(rng.uniform(0.0, 200.0, size=n), 2)
    users = rng.integers(0, keys, size=n)
    props = [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(values),
        "props": pa.array(props),
    })


def salad(rng, words):
    return " ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=words))


def edit(rng, text, i):
    """text with the letter at i replaced by a different letter"""
    c = chr(97 + (ord(text[i]) - 97 + 1 + int(rng.integers(25))) % 26)
    return text[:i] + c + text[i + 1:]


def doc_table(rng, texts):
    order = rng.permutation(len(texts))  # chain members are not adjacent
    texts = [texts[i] for i in order]
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(len(LANGS), size=n)]),
        "source": pa.array(["src%d" % i for i in rng.integers(20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def gen_documents(rng, n, chain_max):
    """Documents in near-clique chains: each chain starts from a random
    word-salad text and every next member edits one character of the one
    before. Every pair in a chain therefore stays far above the 0.6
    char-5-gram Jaccard threshold, where minhash LSH finds all of them and
    its pairs equal the brute-force oracle's; texts of different chains
    share little."""
    texts, chains = [], []
    while len(texts) < n:
        length = min(int(rng.integers(2, chain_max + 1)),
                     n - len(texts))
        text = salad(rng, DOC_WORDS)
        for _ in range(length):
            texts.append(text)
            text = edit(rng, text, int(rng.integers(len(text))))
        chains.append(length)
    return doc_table(rng, texts), chains


def shingles(text):
    """the oracle's char-5-gram set"""
    return {text[i:i + 5] for i in range(max(len(text) - 4, 1))}


def jaccard(a, b):
    return round(len(a & b) / len(a | b), 6)


def hops(sets):
    """Longest shortest path, in near-duplicate links (Jaccard >= 0.6),
    from the chain's first document."""
    dist, frontier = {0: 0}, [0]
    while frontier:
        nxt = []
        for a in frontier:
            for b in range(len(sets)):
                if b not in dist and jaccard(sets[a], sets[b]) >= 0.6:
                    dist[b] = dist[a] + 1
                    nxt.append(b)
        frontier = nxt
    return max(dist.values())


def gen_path(rng, length):
    """One path-shaped chain: every step edits one letter at a position 5
    or more letters from the earlier edits while there are such positions,
    so the char-5-gram sets drift apart step by step. Adjacent members keep
    Jaccard >= 0.95, far above where minhash LSH could miss them, so
    connected components over the LSH pairs equal those over the
    brute-force pairs, while members about ten steps apart fall below 0.6:
    the chain is a long path of near-duplicate links, not a clique."""
    text = salad(rng, PATH_DOC_WORDS)
    pos = rng.permutation([i for i in range(0, len(text), 5)
                           if text[i] != " "])
    chain = []
    for k in range(length):
        chain.append(text)
        text = edit(rng, text, int(pos[k % len(pos)]))
    sets = [shingles(t) for t in chain]
    low = min((jaccard(a, b) for a, b in zip(sets, sets[1:])), default=1)
    if low < 0.95:
        raise SystemExit(f"path step Jaccard {low} < 0.95")
    return doc_table(rng, chain), hops(sets)


def gen_embeddings(rng, n):
    centers = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(CLUSTERS, size=n)
    vecs = centers[label] + 0.35 * rng.normal(size=(n, DIM))
    vecs = np.round(vecs, 4).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write(table, path):
    # fixed writer settings: no timestamps or creator strings that vary
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   row_group_size=1 << 20)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, default=0)
    ap.add_argument("--keys", type=int)
    ap.add_argument("--mix", default="click=30,error=15,purchase=20,"
                                     "signup=5,view=30")
    ap.add_argument("--span-minutes", type=int)
    ap.add_argument("--docs", type=int, default=0)
    ap.add_argument("--chain-max", type=int)
    ap.add_argument("--path-len", type=int, default=0)
    ap.add_argument("--vecs", type=int, default=0)
    a = ap.parse_args(argv)
    for on, need in ((a.events, ("keys", "span_minutes")),
                     (a.docs, ("chain_max",))):
        missing = [n for n in need if on and getattr(a, n) is None]
        if missing:
            ap.error("missing --" + ", --".join(n.replace("_", "-")
                                                for n in missing))

    os.makedirs(a.out, exist_ok=True)
    # one independent stream per table, so a table's bytes depend only on
    # the seed and its own properties
    seeds = np.random.SeedSequence(a.seed).spawn(4)
    props = {"seed": a.seed}
    if a.events:
        write(gen_events(np.random.default_rng(seeds[0]), a.events, a.keys,
                         parse_mix(a.mix), a.span_minutes),
              os.path.join(a.out, "events.parquet"))
        props.update(events=a.events, keys=a.keys, mix=a.mix,
                     span_minutes=a.span_minutes)
    if a.docs:
        docs, chains = gen_documents(np.random.default_rng(seeds[1]), a.docs,
                                     a.chain_max)
        write(docs, os.path.join(a.out, "documents.parquet"))
        props.update(docs=a.docs, doc_words=DOC_WORDS, chain_max=a.chain_max,
                     chains=len(chains), longest_chain=max(chains))
    if a.path_len:
        # the program reads documents.parquet from a directory: the path
        # corpus gets one of its own
        docs, hops_ = gen_path(np.random.default_rng(seeds[3]), a.path_len)
        os.makedirs(os.path.join(a.out, "paths"), exist_ok=True)
        write(docs, os.path.join(a.out, "paths", "documents.parquet"))
        props.update(path_len=a.path_len, path_doc_words=PATH_DOC_WORDS,
                     path_hops=hops_)
    if a.vecs:
        write(gen_embeddings(np.random.default_rng(seeds[2]), a.vecs),
              os.path.join(a.out, "embeddings.parquet"))
        props.update(vecs=a.vecs, clusters=CLUSTERS, dim=DIM)
    with open(os.path.join(a.out, "inputs.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    print(json.dumps(props, sort_keys=True))


if __name__ == "__main__":
    main()
