"""Independent output checks, run after the JVM exits (outside every timed
region). Each returns how many measured ops were attempted and how many
failed; an op fails if any of its outputs disagrees with the reference.

- knn_truth: a float64 brute force (numpy) over the base file, read here
  with a plain reader. Ties: ids whose float64 distance is within TIE_EPS of
  the k-th distance are interchangeable at the cut; every other member of
  the true top-k must be returned, in (distance, id) order. Every hybrid
  neighbour must satisfy its query's predicate, and the reported recall must
  equal |exact ∩ hybrid| / (queries * k).
- graph_iter: a DuckDB replay of the query's SparkEntry.oracleSql over the
  same documents.parquet, compared the way tools/check.py compares (columns
  sorted by name, rows sorted, floats as %.9g); every measured execution must
  hash to the verified sample.
- vec_ingest: a plain fvec reader checks the header dimension, the 4 + 4*d
  stride, sampled records against the generator's formula, and the window's
  per-dimension moments.
"""
import json
import math
import os
import random

import numpy as np

TIE_EPS = 1e-9
DIST_EPS = 1e-9


def read_fvec(path, dim):
    """(n, dim) float32 records of an fvec file, after checking its framing."""
    size = os.path.getsize(path)
    stride = 4 + 4 * dim
    if size % stride:
        raise ValueError(f"{path}: size {size} is not a multiple of the {stride}-byte stride")
    raw = np.fromfile(path, dtype="<i4").reshape(-1, dim + 1)
    if not (raw[:, 0] == dim).all():
        raise ValueError(f"{path}: a record header is not {dim}")
    return raw[:, 1:].copy().view("<f4")


def _topk_ok(d, rows, k, mask=None):
    """rows: [(neighbour, rank, dist)] of one query, sorted by rank."""
    cand = np.flatnonzero(mask) if mask is not None else np.arange(len(d))
    want = min(k, len(cand))
    if len(rows) != want or [r[1] for r in rows] != list(range(1, want + 1)):
        return "wrong count or ranks"
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    if mask is not None and not mask[ids].all():
        return "a neighbour fails its predicate"
    if np.abs(np.array([r[2] for r in rows]) - d[ids]).max() > DIST_EPS:
        return "a distance differs from the float64 reference"
    if (np.diff(d[ids]) < -TIE_EPS).any():
        return "neighbours not in distance order"
    kth = np.partition(d[cand], want - 1)[want - 1]
    if (d[ids] > kth + TIE_EPS).any():
        return "a neighbour lies beyond the k-th distance"
    must = cand[d[cand] < kth - TIE_EPS]
    if not np.isin(must, ids).all():
        return "a true neighbour is missing"
    return None


def check_knn(rec, work):
    spec = json.load(open(os.path.join(work, "check-knn.json")))
    k = spec["k"]
    base = read_fvec(spec["base"], spec["dim"]).astype(np.float64)
    if len(base) != spec["n"]:
        raise ValueError(f"base holds {len(base)} records, expected {spec['n']}")
    norms = np.linalg.norm(base, axis=1)
    ords = np.arange(len(base))
    label, score = ords % 10, (ords // 10) % 100
    failed, problems = 0, []
    for op in spec["ops"]:
        q = np.array(op["queries"], dtype=np.float64)
        dots = q @ base.T
        denom = np.linalg.norm(q, axis=1)[:, None] * norms[None, :]
        dist = np.where(denom == 0, 1.0, 1.0 - dots / np.where(denom == 0, 1.0, denom))
        exact, hybrid = {}, {}
        for qid, nb, rank, dd in op["exact"]:
            exact.setdefault(qid, []).append((nb, rank, dd))
        for qid, nb, rank, dd in op["hybrid"]:
            hybrid.setdefault(qid, []).append((nb, rank, dd))
        bad, hits = None, 0
        for j, qid in enumerate(op["query_ids"]):
            p = op["predicates"][j]
            mask = (np.isin(label, p["labels"]) & (score >= p["score_lo"])
                    & (score < p["score_hi"]))
            e = sorted(exact.get(qid, []), key=lambda r: r[1])
            h = sorted(hybrid.get(qid, []), key=lambda r: r[1])
            bad = bad or _topk_ok(dist[j], e, k) or _topk_ok(dist[j], h, k, mask)
            hits += len({r[0] for r in e} & {r[0] for r in h})
        # the engine reports recall rounded half-up to 4 decimals
        recall = hits / (len(op["query_ids"]) * k)
        if not bad and abs(recall - op["recall"]) > 0.5e-4 + 1e-12:
            bad = f"recall {op['recall']} != {recall}"
        if bad:
            failed += 1
            problems.append(f"op {op['op']}: {bad}")
    return len(spec["ops"]), failed, problems


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def check_graph(rec, work):
    import duckdb
    spec = json.load(open(os.path.join(work, "check-graph.json")))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{spec['sf']}/documents.parquet/*.parquet'")
    failed, checked, problems = 0, 0, []
    for q in spec["queries"]:
        want_df = con.sql(q["sql"]).fetchdf()
        cols = sorted(q["columns"])
        idx = [q["columns"].index(c) for c in cols]
        got = sorted(tuple(_norm(r[i]) for i in idx) for r in q["rows"])
        want = sorted(tuple(_norm(v) for v in row) for row in
                      want_df.reindex(sorted(want_df.columns), axis=1).itertuples(index=False))
        sample_ok = list(want_df.columns.sort_values()) == cols and got == want
        if not sample_ok:
            problems.append(f"{q['name']}: differs from the DuckDB oracle")
        for o in q["ops"]:
            checked += 1
            if not sample_ok or o["hash"] != q["sample_hash"]:
                failed += 1
    return checked, failed, problems


M64 = (1 << 64) - 1


def _mix(z):
    z = (z + 0x9E3779B97F4A7C15) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return z ^ (z >> 31)


def _gen_mix(ordinal, dim, seed, stream):
    a = ((ordinal * 0x9E3779B97F4A7C15) & M64) ^ (seed & M64)
    return _mix(_mix(a) ^ (((dim * 0xC2B2AE3D27D4EB4F) + stream) & M64))


def _u01(h):
    return (h >> 12) / float(1 << 52)


def expected_record(ordinal, dim, seed, zeroes, duplicates):
    """Generators.gaussianVectors' record at `ordinal` (unit variance, no scale)."""
    zero = _u01(_gen_mix(ordinal, -1, seed, 3)) < zeroes
    dup = _u01(_gen_mix(ordinal, -2, seed, 4)) < duplicates
    src = ordinal - 1 if (not zero and dup and ordinal > 0) else ordinal
    if zero:
        return np.zeros(dim, dtype=np.float32)
    out = []
    for d in range(dim):
        u1 = max(_u01(_gen_mix(src, d, seed, 1)), 1.0 / (1 << 52))
        u2 = _u01(_gen_mix(src, d, seed, 2))
        out.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
    return np.array(out, dtype=np.float32)


def check_ingest(rec, work):
    spec = json.load(open(os.path.join(work, "check-ingest.json")))
    dim = spec["dim"]
    failed, problems = 0, []
    for op in spec["ops"]:
        bad = None
        try:
            v = read_fvec(op["path"], dim)
            if len(v) != op["n"]:
                bad = f"{len(v)} records on disk, write returned {op['n']}"
            r = random.Random(op["seed"])
            for o in [0, len(v) - 1] + [r.randrange(len(v)) for _ in range(30)]:
                want = expected_record(o, dim, op["seed"], op["zeroes"], op["duplicates"])
                if not np.allclose(v[o], want, rtol=1e-6, atol=1e-6):
                    bad = bad or f"record {o} differs from the generator"
            w = v[op["window_lo"]:op["window_hi"]].astype(np.float64)
            ref = np.stack([np.arange(dim), w.mean(0), w.std(0, ddof=1), w.min(0), w.max(0),
                            np.full(dim, len(w))], axis=1)
            if not np.allclose(np.array(op["stats"]), ref, rtol=1e-9, atol=1e-12):
                bad = bad or "window moments differ"
        except ValueError as e:
            bad = str(e)
        if bad:
            failed += 1
            problems.append(f"op {op['op']}: {bad}")
    return len(spec["ops"]), failed, problems


def check(workload, rec, work):
    """{'attempted', 'failed', 'notes'}: every measured op is attempted; an op
    fails if it threw, failed an in-JVM check, or failed a check here."""
    fn = {"knn_truth": check_knn, "graph_iter": check_graph, "vec_ingest": check_ingest}[workload]
    checked, bad, problems = fn(rec, work)
    attempted = len(rec["ops"]) + rec["failed"]
    failed = rec["failed"] + bad + int(rec["extra"].get("in_jvm_failures", 0))
    notes = [f"{checked} outputs checked against the reference"] + problems[:5]
    return {"attempted": attempted, "failed": min(failed, attempted), "notes": notes}
