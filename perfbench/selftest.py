"""Shows that every correctness check in checks.py can fail.

    python3 perfbench/selftest.py [--seed N]

For each workload it builds a correct output from the generator's own
answers, confirms the checks accept it, then corrupts one thing at a
time (swap an id, nudge a distance, add a pair below tau, merge two
components, ...) and confirms the check meant to catch it rejects the
result with its own message.  Exits non-zero if any corruption passes.
"""

import argparse
import copy
import math
import os
import shutil
import sys
import tempfile

import checks
import gen
from checks import CheckFailed


def hits(ids, dists):
    return [[int(i), float(d)] for i, d in zip(ids, dists)]


def serve_output(data):
    local = [hits(i, d) for i, d in zip(data["truth_ids"], data["truth_d"])]
    up = data["upsert"]
    return {"local": local, "batch": copy.deepcopy(local),
            "exhaustive": [[i, copy.deepcopy(local[i])] for i in range(0, len(local), 10)],
            "pq_local": copy.deepcopy(local), "adc_batch": copy.deepcopy(local),
            "refined": copy.deepcopy(local),
            "upsert": {"local": [hits(i, d) for i, d in zip(up["truth_ids"], up["truth_d"])],
                       "self": [[int(i), int(i), 0.0] for i in up["add_ids"]],
                       "len": up["len"]}}


def dedup_output(data):
    passes = []
    for s, truth in enumerate(data["shards"]):
        pairs = sorted(p for p, j in truth["planted"].items() if j >= gen.TAU)
        comp = checks.union_find_components(pairs)
        passes.append({
            "shard": s,
            "pairs": [[a, b, truth["planted"][(a, b)]] for a, b in pairs],
            "components": sorted([i, c] for i, c in comp.items()),
            "groups": [[h, k, n] for h, (k, n) in truth["groups"].items()]})
    return {"passes": passes}


def corruptions_serve(out, data):
    ids = data["ids"]
    yield "swap an id", "distance", lambda o: o["local"][0].__setitem__(
        0, [int(next(i for i in ids if i not in {h[0] for h in o["local"][0]})), o["local"][0][0][1]])
    yield "nudge a distance", "distance", lambda o: o["local"][1][3].__setitem__(
        1, o["local"][1][3][1] * (1 + 1e-6))
    yield "reorder two hits", "order", lambda o: o["local"][2].reverse()
    yield "repeat an id", "duplicate", lambda o: o["local"][3].__setitem__(1, list(o["local"][3][0]))
    yield "unknown id", "not in the corpus", lambda o: o["local"][4].__setitem__(9, [10 ** 12, 1e9])
    yield "batch differs from local by one ulp", "searchLocal vs searchBatch", lambda o: o["batch"][5][9].__setitem__(
        1, math.nextafter(o["batch"][5][9][1], math.inf))
    yield "PQ local differs from distributed ADC", "distributed ADC", lambda o: o["pq_local"][6][0].__setitem__(
        1, o["pq_local"][6][0][1] * (1 - 1e-12))
    yield "refined distance off", "searchBatchRefined", lambda o: o["refined"][7][0].__setitem__(
        1, o["refined"][7][0][1] + 1e-3)

    def miss_exhaustive(o):
        # a quarter of the sampled exhaustive queries lose their nearest
        # hit to a real vector beyond the top-10, at its true distance
        vec = dict(zip(ids.tolist(), data["vecs"].astype("float64")))
        for row in o["exhaustive"][::4]:
            q, h = data["queries"][row[0]].astype("float64"), row[1]
            taken = {x[0] for x in h}
            other = next(i for i in ids.tolist() if i not in taken)
            h.pop(0)
            h.append([other, float(((vec[other] - q) ** 2).sum())])
            h.sort(key=lambda x: (x[1], x[0]))
    yield "exhaustive queries miss numpy's top-10", "ceiling", miss_exhaustive

    up = data["upsert"]
    gone = next(iter(up["gone"]))
    yield "len off by one", "len", lambda o: o["upsert"].__setitem__("len", o["upsert"]["len"] + 1)
    yield "removed id comes back", "came back", lambda o: o["upsert"]["local"][0].__setitem__(9, [gone, 1e9])
    yield "self-query returns an unknown id", "self-query", lambda o: o["upsert"]["self"][0].__setitem__(1, -1)
    yield "self-query of itself at a nonzero distance", "distance", lambda o: o["upsert"]["self"][0].__setitem__(2, 1e-3)

    def miss_self(o):
        # a fifth of the self-queries return another added vector at its true distance
        added = dict(zip(up["add_ids"].tolist(), up["add_vecs"].astype("float64")))
        for row in o["upsert"]["self"][::5]:
            other = next(i for i in added if i != row[0])
            row[1], row[2] = other, float(((added[other] - added[row[0]]) ** 2).sum())
    yield "self-queries miss their own id", "ceiling", miss_self
    yield "stale vector after upsert", "distance", lambda o: o["upsert"]["local"][1][0].__setitem__(
        1, o["upsert"]["local"][1][0][1] + 0.5)


def corruptions_dedup(out, data):
    truth = data["shards"][0]
    sh = truth["shingles"]
    low = next((a, b) for a in sorted(sh) for b in sorted(sh)
               if a < b and gen.TAU > gen.jaccard(sh[a], sh[b]) > 0.0)
    yield "pair below tau", "below tau", lambda o: o["passes"][0]["pairs"].append(
        [low[0], low[1], gen.jaccard(sh[low[0]], sh[low[1]])])
    yield "wrong jac", "recomputed", lambda o: o["passes"][0]["pairs"][0].__setitem__(
        2, o["passes"][0]["pairs"][0][2] - 1e-12)
    def lose_planted(o):
        # every pass loses its near-duplicate pairs (exact copies stay),
        # with components that agree with what is left
        for ps in o["passes"]:
            ps["pairs"] = [x for x in ps["pairs"] if x[2] == 1.0]
            comp = checks.union_find_components(sorted((a, b) for a, b, _ in ps["pairs"]))
            ps["components"] = sorted([i, c] for i, c in comp.items())
    yield "planted pairs lost", "planted pairs", lose_planted

    def merge(o):
        comps = o["passes"][0]["components"]
        roots = sorted({c for _, c in comps})
        for row in comps:
            if row[1] == roots[1]:
                row[1] = roots[0]
    yield "merge two components", "components differ", merge
    yield "exact group count off", "exact groups", lambda o: o["passes"][0]["groups"][0].__setitem__(
        2, o["passes"][0]["groups"][0][2] + 1)


def run_case(name, check, out, data, corruptions):
    failures = 0
    check(copy.deepcopy(out), data)  # the uncorrupted output passes
    print(f"{name}: correct output accepted")
    for what, expect, corrupt in corruptions(out, data):
        bad = copy.deepcopy(out)
        corrupt(bad)
        try:
            check(bad, data)
        except CheckFailed as e:
            ok = expect in str(e)
            print(f"{name}: {what}: rejected{'' if ok else ' by the wrong check'} ({e})")
            failures += not ok
            continue
        print(f"{name}: {what}: NOT rejected")
        failures += 1
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-",
                           dir=os.path.join(os.path.dirname(os.path.abspath(__file__))))
    try:
        failures = 0
        data = gen.gen_serve(a.seed, tmp)
        failures += run_case("serve", checks.check_serve, serve_output(data), data, corruptions_serve)
        data = gen.gen_dedup(a.seed, tmp)
        failures += run_case("dedup", checks.check_dedup, dedup_output(data), data, corruptions_dedup)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("SELFTEST OK" if failures == 0 else f"SELFTEST FAILED ({failures})")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
