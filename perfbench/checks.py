"""Correctness checks: pure functions over collected results, so each can
be tested with a planted wrong answer and no Spark session."""

from __future__ import annotations

import hashlib
import json
import math
from collections import Counter, defaultdict


# --- star_analytics: result hash against the DuckDB oracle -----------------------


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    normalised (floats at full precision), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in body:
        h.update(line.encode())
    return h.hexdigest()


# --- replay_etl: outbox document against the generator's truth ---------------------


def canon(rows: list[dict]) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True, ensure_ascii=False) for r in rows)


def doc_mismatches(doc: dict, expected: dict) -> list[str]:
    """Names of the document sections that differ from ``expected``."""
    bad = []
    replay = json.loads(doc["replay"]) if isinstance(doc.get("replay"), str) else doc.get("replay")
    for key, want in expected["replay"].items():
        if (replay or {}).get(key) != want:
            bad.append(f"replay.{key}")
    for key, want in expected.items():
        if key == "replay":
            continue
        got = doc.get(key)
        if got is None or canon(got) != canon(want):
            bad.append(key)
    return bad


# --- star_analytics: dedup and ANN against exact answers ----------------------------


def word_shingles(text: str, k: int = 3) -> set[str]:
    """Distinct k-token shingles, as ``dedup.minhash.shingles`` defines them."""
    toks = text.strip().lower().split()
    n = len(toks)
    return {" ".join(toks[i:i + k]) for i in range(max(n - k, 0) + 1)}


def exact_near_dup_pairs(docs: dict[int, str], threshold: float) -> set[tuple[int, int]]:
    """(id1, id2), id1 < id2, with exact shingle Jaccard >= threshold."""
    sets = {i: word_shingles(t) for i, t in docs.items()}
    postings: dict[str, list[int]] = defaultdict(list)
    for i in sorted(sets):
        for s in sets[i]:
            postings[s].append(i)
    shared: Counter = Counter()
    for ids in postings.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                shared[(ids[a], ids[b])] += 1
    return {
        (a, b) for (a, b), n in shared.items()
        if n / (len(sets[a]) + len(sets[b]) - n) >= threshold
    }


def exact_top_k(vectors: dict[int, list[float]], probes: list[int], k: int) -> dict[int, list[int]]:
    """Exact cosine top-k per probe, self excluded, ties by smaller id."""
    import numpy as np

    ids = np.array(sorted(vectors))
    mat = np.array([vectors[i] for i in ids], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for p in probes:
        sims = mat @ mat[np.searchsorted(ids, p)]
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != p), key=lambda i: (-sims[i], ids[i])
        )
        out[p] = [int(ids[i]) for i in order[:k]]
    return out


def recall_at_k(found: dict[int, list[int]], exact: dict[int, list[int]]) -> float:
    """Mean over probes of |found ∩ exact| / |exact|; a probe missing
    from ``found`` scores 0."""
    scores = [
        len(set(found.get(p, [])) & set(truth)) / len(truth)
        for p, truth in exact.items() if truth
    ]
    return sum(scores) / len(scores)
