"""Output checks, run outside the timed window. Each function returns a
list of mismatch descriptions; every entry counts as one failed op.

The functions take plain Python values (rows already collected), so the
tests can feed them corrupted results without a Spark session.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

import numpy as np


def serve_response(req: tuple, status: int, payload: dict, movies: list) -> list[str]:
    """One ``serve`` reply against the generator's ground truth."""
    ep, _m, path, args, body, exp = req
    where = f"{ep} {path} {args or body}"
    if status != exp["status"]:
        return [f"{where}: status {status} != {exp['status']}"]
    bad: list[str] = []
    if ep == "movie" and status == 200:
        if payload.get("title") != exp["title"] or payload.get("genres") != exp["genres"]:
            bad.append(f"{where}: got {payload.get('title')!r} {payload.get('genres')}")
    elif ep == "recommend" and status == 200:
        if exp.get("ambiguous"):
            if len(payload.get("movies", [])) < 2:
                bad.append(f"{where}: expected a disambiguation list")
        else:
            got = payload.get("movie", {}).get("movieId")
            if got != exp["movieId"]:
                bad.append(f"{where}: movieId {got} != {exp['movieId']}")
            recs = payload.get("recommendations", [])
            genres = set(movies[exp["movieId"] - 1][3])
            if any(r["movieId"] == exp["movieId"] for r in recs):
                bad.append(f"{where}: the movie recommends itself")
            if genres and any(not genres & set(r["genres"]) for r in recs):
                bad.append(f"{where}: a recommendation shares no genre")
    elif ep == "search" and status == 200:
        if "total" in exp and payload.get("total") != exp["total"]:
            bad.append(f"{where}: total {payload.get('total')} != {exp['total']}")
        hits = payload.get("movies", [])
        if len(hits) > int(args.get("size", 10)) or payload.get("total", 0) < len(hits):
            bad.append(f"{where}: page of {len(hits)} with total {payload.get('total')}")
    return bad


def same_reply(req: tuple, indexed: tuple[int, dict], inline: tuple[int, dict]) -> list[str]:
    """The index path and the inline raw-DataFrame path agree."""
    return [] if indexed == inline else [f"{req[0]} {req[2]} {req[3] or req[4]}: index path "
                                         f"{indexed!r:.200} != inline path {inline!r:.200}"]


def recs(rows: list[tuple], users: list[int], k: int = 10) -> list[str]:
    """Exactly ``k`` finite recommendations for every user."""
    per: dict[int, int] = {}
    bad = []
    for user, _item, score in rows:
        per[user] = per.get(user, 0) + 1
        if score is None or not math.isfinite(score):
            bad.append(f"user {user}: non-finite score {score}")
    for u in users:
        if per.get(u, 0) != k:
            bad.append(f"user {u}: {per.get(u, 0)} recs, expected {k}")
    extra = set(per) - set(users)
    if extra:
        bad.append(f"recs for {len(extra)} unknown users")
    return bad


def index_docs(rows: list[tuple], movies: list) -> list[str]:
    """One index row per movie, with the generator's title and genres."""
    if len(rows) != len(movies):
        return [f"index has {len(rows)} rows, catalog has {len(movies)}"]
    bad = []
    for mid, title, genres in rows:
        _m, t, _d, g = movies[mid - 1]
        if title != t or sorted(genres or []) != g:
            bad.append(f"movie {mid}: index {title!r} {genres} != {t!r} {g}")
    return bad


def exact_groups(groups: list[tuple[int, int]], exact_pairs: list[tuple[int, int]]) -> list[str]:
    """Every planted exact-duplicate cluster is one group: its smallest id
    survives with the cluster's copy count. ``groups`` holds the
    ``(survivor_id, n_copies)`` rows with more than one copy."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in exact_pairs:
        parent[find(a)] = find(b)
    clusters: dict[int, list[int]] = {}
    for x in list(parent):
        clusters.setdefault(find(x), []).append(x)
    got = dict(groups)
    return [f"exact cluster {sorted(ids)} not grouped (got {got.get(min(ids))} copies)"
            for ids in clusters.values() if got.get(min(ids)) != len(ids)]


def near_pairs(verified: list[tuple[int, int, float]], planted: list[tuple[int, int]],
               threshold: float, recall_floor: float) -> tuple[list[str], float]:
    """Verified pairs meet the threshold; planted near-dup recall >= floor."""
    bad = [f"pair {a},{b} jaccard {j} < {threshold}" for a, b, j in verified if j < threshold]
    found = {(a, b) for a, b, _j in verified}
    recall = sum(p in found for p in planted) / max(1, len(planted))
    if recall < recall_floor:
        bad.append(f"near-dup recall {recall:.3f} < {recall_floor}")
    return bad, recall


def ann(rows: list[tuple[int, int, float]], emb: np.ndarray, query_ids: list[int], k: int,
        recall_floor: float) -> tuple[list[str], float]:
    """ANN scores equal exact cosine; recall@k against numpy brute force
    is at least ``recall_floor``."""
    unit = emb.astype(np.float64)
    unit = unit / np.linalg.norm(unit, axis=1, keepdims=True)
    got: dict[int, list[int]] = {}
    bad = []
    for qid, did, score in rows:
        got.setdefault(qid, []).append(did)
        exact = float(unit[qid] @ unit[did])
        if abs(exact - score) > 2e-4:
            bad.append(f"query {qid} doc {did}: score {score} != cosine {exact:.4f}")
    hit = 0
    for q in query_ids:
        sims = unit @ unit[q]
        sims[q] = -np.inf
        truth = set(np.argpartition(-sims, k)[:k].tolist())
        hit += len(truth & set(got.get(q, [])))
    recall = hit / (k * max(1, len(query_ids)))
    if recall < recall_floor:
        bad.append(f"ANN recall@{k} {recall:.3f} < {recall_floor}")
    return bad, recall


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (float, np.floating, Decimal)):
        return f"{float(v):.6f}"
    if isinstance(v, (np.integer, bool)):
        return str(int(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, values
    normalized (floats to 6 places), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()
