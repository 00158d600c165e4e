"""Seeded input generator for the graft benchmark.

Writes one workload's inputs as parquet files into a directory; graft
receives only these files. The same (workload, seed) always produces
byte-identical files: every array comes from one numpy Generator seeded
with the seed, and parquet is written without statistics or timestamps
that could vary between runs.

    python3 perfbench/gen.py --workload serve --seed 1 --out DIR

Workloads:
  serve     clustered cosine float corpus + held-out queries + exact top-k,
            plus insert/delete batches per streaming round and the exact
            top-k over the live set left after the last round
  pipeline  documents with planted exact and near duplicates, plus an
            embeddings table with planted near-copy vectors
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 10

# serve: sized so one build+pivots+export+open set-up takes ~3-5 s on
# 4 cores; each streaming round inserts `insert` and deletes `delete` ids
SERVE = dict(n=3000, dim=32, clusters=128, queries=1000, spread=1.0,
             rounds=1, insert=250, delete=100, update_queries=200)
# pipeline: docs drawn uniformly from a large vocabulary so that random
# documents share no 3-word shingles, no 40-char windows and no close
# simhash codes; only the planted duplicates pair up
PIPELINE = dict(docs=480, vocab=6000, min_words=30, max_words=90, word_len=(6, 10),
                exact_groups=48, exact_max_copies=4,
                near_groups=72, near_edit=0.02, dim=64, emb_near=90,
                stop_rate=0.03)
# a few stop words per language, mixed into documents so graft's language
# and quality scoring (and with them q_pipeline_select) see real signal;
# "zh" documents carry none
STOP = {"en": ["the", "a", "of", "to", "and", "in", "is", "it"],
        "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
        "fr": ["le", "la", "et", "les", "des", "un", "une", "que"],
        "de": ["der", "die", "und", "das", "ein", "ist", "nicht", "mit"],
        "zh": []}
LANGS = sorted(STOP)
WORLD_SEED = 20260101
SHARD_SEEDS = 8


def write(table, path):
    # no dictionary/statistics variance; pyarrow writes no timestamps
    pq.write_table(table, path, compression="snappy", use_dictionary=False,
                   write_statistics=False)


def vec_table(ids, vecs, id_col="vec_id", vec_col="embedding"):
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.shape[0] * vecs.shape[1] + 1,
                                 vecs.shape[1], dtype=np.int32))
    lists = pa.ListArray.from_arrays(offsets, flat)
    return pa.table({id_col: pa.array(ids, type=pa.int64()), vec_col: lists})


def clustered(rng, n, centers, spread):
    which = rng.integers(0, len(centers), n)
    noise = rng.standard_normal((n, centers.shape[1]))
    return (centers[which] + spread * noise).astype(np.float32)


def exact_topk(base_ids, base, queries, k=K):
    """Exact cosine top-k (distance 1 - cos in float64), ties by id."""
    b = base.astype(np.float64)
    q = queries.astype(np.float64)
    b /= np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-30)
    q /= np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-30)
    order = np.argsort(base_ids, kind="stable")
    ids = base_ids[order]
    dist = 1.0 - q @ b[order].T
    out = np.empty((len(q), k), dtype=np.int64)
    for i in range(len(q)):
        # lexsort: last key is primary -> (dist, id)
        top = np.lexsort((ids, dist[i]))[:k]
        out[i] = ids[top]
    return out


def gt_table(qids, gt):
    flat = pa.array(gt.ravel(), type=pa.int64())
    offsets = pa.array(np.arange(0, gt.size + 1, gt.shape[1], dtype=np.int32))
    return pa.table({"q_id": pa.array(qids, type=pa.int64()),
                     "ids": pa.ListArray.from_arrays(offsets, flat)})


# query ids live far above every corpus id, so a query never equals a
# corpus id (the job path drops self-matches by id)
QID_BASE = 1_000_000_000


def gen_serve(rng, out):
    """The serving corpus, its held-out queries and exact top-k, plus the
    streaming rounds: per round an insert batch (new ids) and a delete
    batch (ids live before the round), and the exact top-k of the first
    `update_queries` queries over the live set left after the last round."""
    p = SERVE
    rounds = p["rounds"]
    n, total = p["n"], p["n"] + rounds * p["insert"]
    # graft routes by the 8 lowest-id vectors (its shard seeds), so the
    # shard sizes, and with them the cost of a query, follow those 8
    # points. They and the cluster centres come from a fixed stream;
    # drawn from the seed, they moved resident qps by +-20% between
    # seeds. The seed draws every other vector, the queries and the
    # insert/delete batches.
    world = np.random.default_rng(WORLD_SEED)
    centers = world.standard_normal((p["clusters"], p["dim"]))
    head = clustered(world, SHARD_SEEDS, centers, p["spread"])
    allv = np.concatenate([head, clustered(rng, total + p["queries"] - SHARD_SEEDS,
                                           centers, p["spread"])])
    ids = np.arange(total, dtype=np.int64)
    qv = allv[total:]
    qids = QID_BASE + np.arange(p["queries"], dtype=np.int64)
    write(vec_table(ids[:n], allv[:n]), f"{out}/embeddings.parquet")
    write(vec_table(qids, qv, "q_id", "qv"), f"{out}/queries.parquet")
    write(gt_table(qids, exact_topk(ids[:n], allv[:n], qv)), f"{out}/gt.parquet")
    live = np.zeros(total, dtype=bool)
    live[:n] = True
    for r in range(rounds):
        lo = n + r * p["insert"]
        write(vec_table(ids[lo:lo + p["insert"]], allv[lo:lo + p["insert"]]),
              f"{out}/insert_{r}.parquet")
        d = np.sort(rng.choice(np.flatnonzero(live), p["delete"], replace=False))
        live[lo:lo + p["insert"]] = True
        live[d] = False
        write(pa.table({"vec_id": pa.array(d, type=pa.int64())}), f"{out}/delete_{r}.parquet")
    uq = p["update_queries"]
    write(gt_table(qids[:uq], exact_topk(ids[live], allv[:total][live], qv[:uq])),
          f"{out}/gt_live.parquet")
    return dict(n=n, dim=p["dim"], queries=p["queries"], k=K, rounds=rounds,
                insert=p["insert"], delete=p["delete"], update_queries=uq)


def gen_pipeline(rng, out):
    p = PIPELINE
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < p["vocab"]:
        n = int(rng.integers(p["word_len"][0], p["word_len"][1] + 1))
        words.add("".join(rng.choice(letters, n)))
    vocab = np.array(sorted(words))

    n = p["docs"]
    langs = [LANGS[int(i)] for i in rng.integers(0, len(LANGS), n)]

    def doc(lang):
        m = int(rng.integers(p["min_words"], p["max_words"] + 1))
        words = list(vocab[rng.integers(0, len(vocab), m)])
        stop = STOP[lang]
        if stop:
            for j in np.flatnonzero(rng.random(m) < p["stop_rate"]):
                words[j] = stop[int(rng.integers(0, len(stop)))]
        return words

    texts = [doc(lang) for lang in langs]
    # planted exact duplicates: a group is `c` docs with one identical text
    exact_groups = []
    pos = rng.permutation(n)
    cur = 0
    for _ in range(p["exact_groups"]):
        c = int(rng.integers(2, p["exact_max_copies"] + 1))
        members = sorted(int(x) for x in pos[cur:cur + c])
        cur += c
        for m in members[1:]:
            texts[m] = list(texts[members[0]])
        exact_groups.append(members)
    # planted near duplicates: a copy with a few words substituted
    near_pairs = []
    for _ in range(p["near_groups"]):
        a, b = int(pos[cur]), int(pos[cur + 1])
        cur += 2
        t = list(texts[a])
        for j in range(len(t)):
            if rng.random() < p["near_edit"]:
                t[j] = vocab[int(rng.integers(0, len(vocab)))]
        texts[b] = t
        near_pairs.append(sorted((a, b)))
    text = [" ".join(t) for t in texts]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(langs),
        "source": pa.array([f"src{int(i)}" for i in rng.integers(0, 8, n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    write(docs, f"{out}/documents.parquet")
    # embeddings: isotropic random rows (pairwise cosine ~ 0) plus planted
    # near copies, so the semantic-dedup pair set stays linear in n
    emb = rng.standard_normal((n, p["dim"])).astype(np.float32)
    src = rng.permutation(n)[:2 * p["emb_near"]].reshape(-1, 2)
    for a, b in src:
        emb[b] = emb[a] + 0.05 * rng.standard_normal(p["dim"]).astype(np.float32)
    et = vec_table(np.arange(n, dtype=np.int64), emb)
    et = et.append_column("label", pa.array(rng.integers(0, 10, n).astype(np.int32)))
    write(et, f"{out}/embeddings.parquet")
    return dict(docs=n, exact_groups=exact_groups, near_pairs=near_pairs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    if a.workload == "serve":
        info = gen_serve(rng, a.out)
    else:
        info = gen_pipeline(rng, a.out)
    info.update(workload=a.workload, seed=a.seed)
    with open(f"{a.out}/inputs.json", "w") as f:
        json.dump(info, f, sort_keys=True)


if __name__ == "__main__":
    main()
