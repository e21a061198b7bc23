"""Seeded input generator for the perfbench workloads.

Every input a run sees is made here from one integer seed, with the column
schemas and value domains of the repo's test corpus (documents, embeddings)
plus a tweet stream for the live trending workload:

  tweets/batch_NNNN.parquet  tweet_id, timestamp, user_id, text, lang
  documents.parquet          doc_id, text, lang, source, n_chars
  embeddings.parquet         vec_id, embedding (list<float>), label

Hashtags are Zipf-distributed over a fixed tag vocabulary. Tweet timestamps
run forward by `EVENT_SECONDS_PER_BATCH` per batch and are shuffled back by at
most `MAX_LATENESS_S`, which stays inside the pipelines' 300 s watermark, so a
streamed aggregate must equal the batch aggregate exactly.

The same seed gives byte-identical files; `python3 perfbench/gen.py --help`.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The test corpus vocabulary: documents are single-space separated words.
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SOURCES = [f"src{i}" for i in range(20)]
TAGS = WORDS[:20] + [f"topic{i}" for i in range(380)]
ZIPF_S = 1.1
N_USERS = 1500            # events.user_id domain of the test corpus
EMB_DIM = 64
EMB_CLUSTERS = 10         # embeddings.label domain
BASE_TS_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00, the corpus epoch
EVENT_SECONDS_PER_BATCH = 30
MAX_LATENESS_S = 120      # < the 300 s watermark

_TAG_P = 1.0 / np.arange(1, len(TAGS) + 1) ** ZIPF_S
_TAG_P /= _TAG_P.sum()


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _texts(rng, n, lo, hi, max_tags):
    """n single-space texts of lo..hi vocabulary words with 0..max_tags Zipf hashtags."""
    out = []
    lens = rng.integers(lo, hi + 1, n)
    ntags = rng.integers(0, max_tags + 1, n)
    for ln, nt in zip(lens, ntags):
        toks = [WORDS[i] for i in rng.integers(0, len(WORDS), ln)]
        for t in rng.choice(len(TAGS), nt, p=_TAG_P):
            toks.insert(int(rng.integers(0, len(toks) + 1)), "#" + TAGS[t])
        out.append(" ".join(toks))
    return out


def tweet_batches(out_dir, seed, n_batches, batch_rows):
    rng = np.random.default_rng([seed, 1])
    ts_type = pa.timestamp("us")
    for b in range(n_batches):
        lo = BASE_TS_US + b * EVENT_SECONDS_PER_BATCH * 1_000_000
        ts = lo + rng.integers(0, EVENT_SECONDS_PER_BATCH * 1_000_000, batch_rows)
        late = rng.random(batch_rows) < 0.1
        ts = ts - late * rng.integers(0, MAX_LATENESS_S * 1_000_000, batch_rows)
        ts = np.maximum(ts, BASE_TS_US)
        _write(pa.table({
            "tweet_id": pa.array(np.arange(b * batch_rows, (b + 1) * batch_rows), pa.int64()),
            "timestamp": pa.array(ts, ts_type),
            "user_id": pa.array(rng.integers(0, N_USERS, batch_rows), pa.int64()),
            "text": pa.array(_texts(rng, batch_rows, 4, 14, 3), pa.string()),
            "lang": pa.array(rng.choice(LANGS, batch_rows, p=LANG_P), pa.string()),
        }), os.path.join(out_dir, "tweets", f"batch_{b:04d}.parquet"))


def documents(out_dir, seed, n_docs):
    """Documents with planted exact (2%) and near (3%) duplicates."""
    rng = np.random.default_rng([seed, 2])
    texts = _texts(rng, n_docs, 8, 100, 3)
    kind = rng.random(n_docs)
    for i in range(1, n_docs):
        src = int(rng.integers(0, i))
        if kind[i] < 0.02:
            texts[i] = texts[src]
        elif kind[i] < 0.05:
            # one swapped word in >= 40 keeps the word 3-shingle Jaccard >= 0.85
            toks = texts[src].split(" ")
            j = int(rng.integers(1, max(2, len(toks) - 1)))
            if len(toks) >= 40 and toks[j] in WORDS:
                toks[j] = WORDS[(WORDS.index(toks[j]) + 1) % len(WORDS)]
                texts[i] = " ".join(toks)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([SOURCES[i % len(SOURCES)] for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))


def embeddings(out_dir, seed, n_vecs):
    """Unit-norm vectors around EMB_CLUSTERS random centres; label = centre."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n_vecs)
    v = centres[label] + 0.8 * rng.normal(size=(n_vecs, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tweet-batches", type=int, default=0)
    ap.add_argument("--tweet-rows", type=int, default=1000)
    ap.add_argument("--docs", type=int, default=0)
    ap.add_argument("--vecs", type=int, default=0)
    a = ap.parse_args(argv)
    if a.tweet_batches:
        tweet_batches(a.out, a.seed, a.tweet_batches, a.tweet_rows)
    if a.docs:
        documents(a.out, a.seed, a.docs)
    if a.vecs:
        embeddings(a.out, a.seed, a.vecs)


if __name__ == "__main__":
    main()
