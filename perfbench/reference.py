"""Plain-Python references for the two pipeline operations.

`curate` recomputes `pipelines.curate_corpus` (quality filter, exact
dedup, MinHash-LSH near dedup with connected components, shard and
packing bucket) and `neardup_ingest` recomputes what
`streaming.dedup.stream_ingest_neardup` keeps from a sequence of
micro-batches.  Both follow the engine's definitions to the byte (md5
hash material, hex-slice MinHash components, banded candidate pairs,
min-label components), so the engine's output must equal theirs
exactly.  At the benchmark's sizes (hundreds of documents) each takes
well under a second.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

_WS = re.compile(r"\s+", re.ASCII)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def fingerprint(text: str) -> str:
    # functions.textfns.fingerprint_col: Spark's trim strips spaces only
    return _md5(_WS.sub(" ", text.strip(" ")).lower())


def signature(text: str, num_hashes: int = 8, k: int = 3) -> tuple[str, ...]:
    """operators.dedup.minhash_signatures: component i is the least
    8-hex slice [8i, 8i+8) of the per-shingle md5 material."""
    toks = text.split(" ")
    if len(toks) >= k:
        shingles = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    else:
        shingles = [" ".join(toks)]
    n_digests = (num_hashes + 3) // 4
    material = [
        "".join(_md5(s + "#" * d) for d in range(n_digests)) for s in shingles
    ]
    return tuple(min(m[8 * i : 8 * i + 8] for m in material) for i in range(num_hashes))


def _bands(sig: tuple[str, ...], band_size: int) -> list[tuple]:
    return [
        (b, sig[b * band_size : (b + 1) * band_size])
        for b in range(len(sig) // band_size)
    ]


def _agree(a: tuple[str, ...], b: tuple[str, ...]) -> float:
    return sum(x == y for x, y in zip(a, b)) / len(a)


def lsh_pairs(sigs: dict[int, tuple], band_size: int) -> dict[tuple[int, int], float]:
    """operators.dedup.minhash_lsh_pairs: {(id_a, id_b): jaccard_est}
    for id_a < id_b sharing at least one band."""
    buckets = defaultdict(list)
    for i, s in sigs.items():
        for key in _bands(s, band_size):
            buckets[key].append(i)
    out = {}
    for ids in buckets.values():
        for a in ids:
            for b in ids:
                if a < b:
                    out[(a, b)] = _agree(sigs[a], sigs[b])
    return out


def components(edges) -> dict[int, int]:
    """operators.dedup.connected_components: {node: least node id of
    its component} over the nodes that have an edge."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def curate(docs: list[tuple[int, str]], capacity: int = 2048, n_shards: int = 32):
    """(funnel, {doc_id: (shard, bucket)}) of `pipelines.curate_corpus`
    with its default arguments over (doc_id, text) rows."""
    quality = []
    for doc_id, text in docs:
        toks = text.split(" ")
        dr = len(set(toks)) / len(toks)
        if len(toks) >= 10 and dr >= 0.3:
            quality.append((doc_id, text, len(toks), dr))
    first: dict[str, tuple] = {}
    for row in sorted(quality):
        first.setdefault(fingerprint(row[1]), row)
    exact = {row[0]: row for row in first.values()}
    pairs = lsh_pairs({i: signature(r[1]) for i, r in exact.items()}, band_size=4)
    clusters = defaultdict(list)
    for node, c in components(pairs).items():
        clusters[c].append(node)
    losers = set()
    for members in clusters.values():
        ranked = sorted(members, key=lambda i: (-exact[i][3], i))
        losers.update(ranked[1:])
    kept = sorted(i for i in exact if i not in losers)
    layout, tokens = {}, defaultdict(int)
    for i in kept:
        shard = i % n_shards
        tokens[shard] += exact[i][2]
        layout[i] = (shard, math.floor((tokens[shard] - 1) / capacity))
    funnel = {
        "raw": len(docs),
        "quality": len(quality),
        "exact_dedup": len(exact),
        "near_dedup": len(kept),
    }
    return funnel, layout


def neardup_ingest(
    corpus: list[tuple[int, str]],
    batches: list[list[tuple[int, str]]],
    band_size: int = 2,
    threshold: float = 0.5,
) -> list[set[int]]:
    """The doc ids `stream_ingest_neardup` appends for each batch, with
    its default arguments: a batch row goes if it shares a band with an
    earlier-kept or corpus document at jaccard_est >= threshold; of the
    rest, each in-batch component keeps its least id."""
    index = defaultdict(list)  # band -> signatures of kept documents

    def keep(sig):
        for key in _bands(sig, band_size):
            index[key].append(sig)

    for _, text in corpus:
        keep(signature(text))
    kept_per_batch = []
    for batch in batches:
        sigs = {i: signature(t) for i, t in batch}
        survivors = {
            i: s
            for i, s in sigs.items()
            if not any(
                _agree(s, other) >= threshold
                for key in _bands(s, band_size)
                for other in index.get(key, ())
            )
        }
        pairs = lsh_pairs(survivors, band_size)
        labels = components(p for p, est in pairs.items() if est >= threshold)
        kept = {i for i in survivors if labels.get(i, i) == i}
        for i in kept:
            keep(survivors[i])
        kept_per_batch.append(kept)
    return kept_per_batch
