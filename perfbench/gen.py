"""Seeded input generator for the graft benchmark.

Everything graft reads is written here as parquet; the expected answers
(exact nearest neighbours, true Jaccard similarities, duplicate groups)
are computed with numpy / plain Python and never shown to graft.  The
same seed always gives the same files and the same answers.
"""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shapes of the vector workloads.  The harness serves them from 16 IVF
# cells, below graft's default `maxLocalCells` (64), and every cell stays
# far below `localCellRowCap` (131072 rows), so the whole corpus fits the
# driver-local cell cache: point queries are served without Spark jobs
# once the probed cells have been loaded.
DIMS = 32
CLUSTERS = 64
K = 10

# Upsert batches as (ids removed for good, ids re-embedded, new ids):
# a small one for the untimed warm-up round, then the timed one.
SERVE = dict(n=6000, queries=200, clusters_per_batch=2,
             warm_batch=(4, 4, 4), batch=(60, 80, 60))

# Dedup shards: documents of whitespace-separated words, one shard per
# pass: two untimed passes, then five timed ones (Main.WarmPasses, DedupPasses).
DEDUP = dict(shards=7, docs=500, vocab=20000, min_len=40, max_len=90)
TAU = 0.8


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write_vectors(path, ids, vecs, id_col="vec_id", vec_col="embedding"):
    vecs = np.ascontiguousarray(vecs, dtype=np.float32)
    n, d = vecs.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1)))
    table = pa.table({id_col: pa.array(np.asarray(ids, dtype=np.int64)), vec_col: emb})
    pq.write_table(table, path)


def _write_ids(path, ids):
    pq.write_table(pa.table({"vec_id": pa.array(np.asarray(ids, dtype=np.int64))}), path)


# ---------------------------------------------------------------- vectors

def _mixture(rng, n):
    """A clustered corpus: CLUSTERS Gaussian blobs of uneven weight."""
    centers = rng.normal(0.0, 2.5, size=(CLUSTERS, DIMS))
    weights = rng.uniform(0.8, 1.2, size=CLUSTERS)
    weights /= weights.sum()
    labels = rng.choice(CLUSTERS, size=n, p=weights)
    vecs = centers[labels] + rng.normal(0.0, 1.0, size=(n, DIMS))
    return centers, weights, labels, vecs.astype(np.float32)


def _draw(rng, centers, labels):
    return (centers[labels] + rng.normal(0.0, 1.0, size=(len(labels), DIMS))).astype(np.float32)


def exact_topk(ids, vecs, queries, k=K):
    """Exact top-k by squared L2 in float64, ordered by (dist, id)."""
    x = vecs.astype(np.float64)
    q = queries.astype(np.float64)
    approx = (q * q).sum(1)[:, None] + (x * x).sum(1)[None, :] - 2.0 * q @ x.T
    cand = np.argpartition(approx, k + 32, axis=1)[:, : k + 32]
    out_ids = np.empty((len(q), k), dtype=np.int64)
    out_d = np.empty((len(q), k), dtype=np.float64)
    for i in range(len(q)):
        c = cand[i]
        d = ((x[c] - q[i]) ** 2).sum(1)
        order = np.lexsort((ids[c], d))[:k]
        out_ids[i] = ids[c][order]
        out_d[i] = d[order]
    return out_ids, out_d


def _upsert_batch(rng, ids, labels, hot, removed, upserted, fresh_ids):
    """Removes `removed` ids for good, re-embeds `upserted` existing ids
    and adds `fresh_ids`, all drawn from the clusters in `hot`."""
    cand = ids[np.isin(labels, hot)]
    pick = rng.choice(cand, size=removed + upserted, replace=False)
    gone, moved = pick[:removed], pick[removed:]
    lab = dict(zip(ids.tolist(), labels.tolist()))
    add_lab = np.concatenate([np.array([lab[i] for i in moved.tolist()], dtype=np.int64),
                              rng.choice(hot, size=len(fresh_ids))])
    return gone, moved, np.concatenate([moved, fresh_ids]), add_lab


def gen_serve(seed, out):
    """A clustered corpus, held-out queries and two upsert batches.

    Both batches apply to the initial corpus: the warm-up batch (a few
    ids) to the handle of the untimed round, the timed batch to the
    handle served last.  Each batch is drawn from `clusters_per_batch`
    clusters, so it touches a few IVF cells rather than all.
    """
    c = SERVE
    rng = _rng(seed, 1)
    centers, weights, labels, vecs = _mixture(rng, c["n"])
    ids = rng.permutation(c["n"]).astype(np.int64)
    qlab = rng.choice(CLUSTERS, size=c["queries"], p=weights)
    queries = _draw(rng, centers, qlab)
    _write_vectors(os.path.join(out, "corpus.parquet"), ids, vecs)
    queries.astype("<f4").tofile(os.path.join(out, "queries.f32"))
    tid, td = exact_topk(ids, vecs, queries)

    next_id = c["n"]
    batches = {}
    for name, removed, upserted, fresh in (("warm", *c["warm_batch"]), ("", *c["batch"])):
        hot = rng.choice(CLUSTERS, size=c["clusters_per_batch"], replace=False)
        fresh_ids = np.arange(next_id, next_id + fresh, dtype=np.int64)
        next_id += fresh
        gone, moved, add_ids, add_lab = _upsert_batch(rng, ids, labels, hot, removed, upserted, fresh_ids)
        add_vecs = _draw(rng, centers, add_lab)
        suffix = f"_{name}" if name else ""
        _write_ids(os.path.join(out, f"remove{suffix}.parquet"), np.concatenate([gone, moved]))
        _write_vectors(os.path.join(out, f"add{suffix}.parquet"), add_ids, add_vecs)
        batches[name] = (gone, add_ids, add_vecs)

    gone, add_ids, add_vecs = batches[""]
    live = dict(zip(ids.tolist(), vecs))
    for i in gone.tolist():
        del live[i]
    live.update(zip(add_ids.tolist(), add_vecs))
    cur_ids = np.fromiter(live.keys(), dtype=np.int64)
    up_tid, up_td = exact_topk(cur_ids, np.stack(list(live.values())), queries)
    upsert = {"removed": gone, "add_ids": add_ids, "add_vecs": add_vecs,
              "len": len(live), "gone": set(gone.tolist()),
              "truth_ids": up_tid, "truth_d": up_td}
    return {"ids": ids, "vecs": vecs, "queries": queries,
            "truth_ids": tid, "truth_d": td, "upsert": upsert}


# ------------------------------------------------------------------ dedup

def shingles(text, n=3):
    """Distinct word n-grams, tokens split on whitespace runs and joined
    by '_' -- the shingling graft's `Dedup.shingles` performs."""
    toks = text.split()
    if len(toks) < n:
        return frozenset()
    return frozenset("_".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a, b):
    inter = len(a & b)
    return float(inter) / float(len(a) + len(b) - inter)


def _mutate(rng, toks, vocab, edits):
    toks = list(toks)
    for p in rng.choice(len(toks), size=edits, replace=False):
        toks[p] = vocab[rng.integers(len(vocab))]
    return toks


def gen_dedup(seed, out):
    """Shards of documents with planted near-duplicate families.

    A family is a base document plus variants made by replacing two
    words: 'chain' families derive each variant from the previous one
    (components span several hops, and the ends fall below tau), 'star'
    families derive every variant from the base.  Some documents also
    get exact copies under new ids.
    """
    d = DEDUP
    rng = _rng(seed, 3)
    vocab = np.array([f"w{i}" for i in range(d["vocab"])])
    # Zipf-like word frequencies, so common word triples exist
    zipf = 1.0 / np.arange(1, d["vocab"] + 1) ** 0.9
    zipf /= zipf.sum()
    shards = []
    next_id = 0
    for s in range(d["shards"]):
        docs = []  # (id, text, family)
        fam = 0
        while len(docs) < d["docs"]:
            length = int(rng.integers(d["min_len"], d["max_len"] + 1))
            base = list(vocab[rng.choice(d["vocab"], size=length, p=zipf)])
            kind = rng.random()
            members = [base]
            if kind < 0.15:      # chain of 3-4
                for _ in range(int(rng.integers(2, 4))):
                    members.append(_mutate(rng, members[-1], vocab, 2))
            elif kind < 0.30:    # star of 2-3 variants
                for _ in range(int(rng.integers(1, 3))):
                    members.append(_mutate(rng, base, vocab, 2))
            texts = [" ".join(m) for m in members]
            if rng.random() < 0.08:
                texts.append(texts[int(rng.integers(len(texts)))])
            for t in texts:
                docs.append((next_id, t, fam))
                next_id += 1
            fam += 1
        order = rng.permutation(len(docs))
        docs = [docs[i] for i in order]
        path = os.path.join(out, f"shard_{s}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([x[0] for x in docs], type=pa.int64()),
            "text": pa.array([x[1] for x in docs], type=pa.string())}), path)
        shards.append(_dedup_truth(docs))
    return {"shards": shards}


def _dedup_truth(docs):
    text = {i: t for i, t, _ in docs}
    sh = {i: shingles(t) for i, t in text.items()}
    by_fam = {}
    for i, _, f in docs:
        by_fam.setdefault(f, []).append(i)
    planted = {}
    for members in by_fam.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = sorted((members[x], members[y]))
                planted[(a, b)] = jaccard(sh[a], sh[b])
    groups = {}
    for i, t in text.items():
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        keep, n = groups.get(h, (i, 0))
        groups[h] = (min(keep, i), n + 1)
    return {"text": text, "shingles": sh, "planted": planted, "groups": groups}
