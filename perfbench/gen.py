"""Seeded inputs for the benchmark and their pure-Python reference answers.

Everything here is a function of ``(workload, seed)``: the same seed writes
byte-identical files and yields the same reference answers.  Nothing here
imports pyspark; the engine's writers (``sources.codec.write_sstable`` and
``sources.cassandra1x.write_cassandra_family``) lay the snapshots out on
disk, the way a backup tool would.

Cell tuples everywhere are ``(key, name, state, data, timestamp, ttl,
expiration, generation)`` -- the ``kind=cells`` schema of the ``sstable``
source.  Timestamps are microseconds, expirations milliseconds.
"""

from __future__ import annotations

import base64
import math
import os
import zlib
from dataclasses import dataclass

import numpy as np

NORMAL, DELETED, EXPIRING = "NORMAL", "DELETED", "EXPIRING"
_STATE_RANK = {DELETED: 2, EXPIRING: 1, NORMAL: 0}

#: whole seconds, so 1.x files (which store expiration in seconds) carry
#: every timestamp and expiration exactly
BASE_S = 1_600_000_000
#: writes spread over this many seconds after BASE_S
SPAN_S = 600
#: the fixed read/GC time of every snapshot workload: TTL cells that
#: expire before it are dead, later ones are live
AS_OF_MS = (BASE_S + SPAN_S // 2) * 1000


@dataclass(frozen=True)
class SnapshotSpec:
    fmt: str              # "cassandra" (1.x layout) or "native"
    generations: int
    keyspace: int         # key ids 0..keyspace-1, a few never written
    copies: int           # generations that hold each written key
    names: int            # distinct cell names per row pool
    tombstone: float      # share of DELETED cells
    ttl: float            # share of EXPIRING cells
    wide_keys: int = 0    # partitions with ``wide_cells`` cells per gen
    wide_cells: int = 0
    hole: float = 0.05    # share of key ids no generation writes


SNAPSHOTS = {
    # few large generations in the real 1.x layout, half snappy
    "cassandra_snapshot": SnapshotSpec(
        fmt="cassandra", generations=8, keyspace=4_000, copies=4,
        names=10, tombstone=0.10, ttl=0.10, wide_keys=3, wide_cells=400),
    # an unconsolidated size-tiered snapshot: many small generations,
    # with enough dead cells for its compaction to drop
    "fragmented_snapshot": SnapshotSpec(
        fmt="native", generations=16, keyspace=16_000, copies=2,
        names=10, tombstone=0.12, ttl=0.16),
}


# ---------------------------------------------------------------------------
# SSTable snapshots
# ---------------------------------------------------------------------------

def key_of(i: int) -> bytes:
    return b"key%07d" % i


def snapshot_cells(spec: SnapshotSpec, seed: int) -> dict[int, list]:
    """generation -> key-sorted ``[(key, [cell tuple, ...]), ...]``."""
    rng = np.random.default_rng([seed, spec.generations, spec.keyspace])
    holes = hole_ids(spec, seed)
    written = [i for i in range(spec.keyspace) if i not in holes]
    wide = set(rng.choice(written, spec.wide_keys, replace=False).tolist()) \
        if spec.wide_keys else set()
    # every written key lands in exactly ``copies`` generations, so every
    # key costs a point lookup the same number of admitted files
    keys_of: dict[int, list] = {g: [] for g in range(1, spec.generations + 1)}
    for k in written:
        for g in rng.choice(spec.generations, spec.copies,
                            replace=False).tolist():
            keys_of[g + 1].append(k)
    out = {}
    for gen, keys in keys_of.items():
        keys.sort()
        n_cells = rng.integers(4, 9, len(keys))          # ~6 cells a row
        first = rng.integers(0, spec.names - 3, len(keys))
        names = [[b"w%05d" % j for j in range(spec.wide_cells)] if k in wide
                 else [b"c%02d" % ((f + j) % spec.names) for j in range(n)]
                 for k, n, f in zip(keys, n_cells.tolist(), first.tolist())]
        cells = _cells(rng, spec, [n for row in names for n in row])
        rows, at = [], 0
        for k, row in zip(keys, names):
            rows.append((key_of(k), cells[at:at + len(row)]))
            at += len(row)
        out[gen] = rows
    return out


def _cells(rng, spec: SnapshotSpec, names: list) -> list:
    n = len(names)
    u = rng.random(n).tolist()
    secs = rng.integers(0, SPAN_S, n).tolist()
    ttls = rng.integers(30, SPAN_S, n).tolist()
    vals = rng.bytes(64 * n)
    cells = []
    for j, name in enumerate(names):
        ts_s = BASE_S + secs[j]
        ts = ts_s * 1_000_000
        if u[j] < spec.tombstone:
            cells.append((name, DELETED, None, ts, None, None))
        elif u[j] < spec.tombstone + spec.ttl:
            cells.append((name, EXPIRING, vals[64 * j:64 * j + 64], ts,
                          ttls[j], (ts_s + ttls[j]) * 1000))
        else:
            cells.append((name, NORMAL, vals[64 * j:64 * j + 64], ts, None,
                          None))
    return cells


def write_snapshot(spec: SnapshotSpec, by_gen: dict, out_dir: str) -> None:
    """Write every generation with the engine's own writers; every
    other generation is snappy-compressed."""
    from sstable_hadoop_spark.sources import cassandra1x, codec

    for gen, rows in by_gen.items():
        model = [codec.Row(key, [codec.Cell(name=c[0], state=c[1],
                                            data=c[2], timestamp=c[3],
                                            ttl=c[4], expiration=c[5])
                                 for c in cells])
                 for key, cells in rows]
        if spec.fmt == "cassandra":
            cassandra1x.write_cassandra_family(out_dir, "snap", gen, model,
                                               compressed=gen % 2 == 0)
        else:
            codec.write_sstable(out_dir, "snap", model, generation=gen,
                                compressed=gen % 2 == 0)


def flat_cells(by_gen: dict) -> list[tuple]:
    return [(key, *c, gen) for gen, rows in by_gen.items()
            for key, cells in rows for c in cells]


def _order(cell: tuple) -> tuple:
    """The total order of ``operators.lww._order_key``: timestamp, then
    DELETED > EXPIRING > NORMAL, then generation, then base64 of the
    value."""
    return (cell[4], _STATE_RANK[cell[2]], cell[7],
            base64.b64encode(cell[3] or b""))


def lww_reference(cells: list[tuple]) -> dict:
    """(key, name) -> winning cell."""
    best: dict = {}
    for c in cells:
        k = (c[0], c[1])
        cur = best.get(k)
        if cur is None or _order(c) > _order(cur):
            best[k] = c
    return best


def live_reference(winners: dict, as_of_ms: int) -> list[tuple]:
    """``operators.lww.live_view``: winners minus tombstones minus cells
    expired at ``as_of_ms``."""
    return [c for c in winners.values()
            if c[2] != DELETED and (c[6] is None or c[6] > as_of_ms)]


def gc_reference(winners: dict, gc_before_ms: int,
                 generation: int) -> list[tuple]:
    """``operators.compaction.compact(gc_before_ms=...)`` output cells:
    old tombstones and expired cells are purged, survivors are
    restamped with the output generation."""
    gc_us = gc_before_ms * 1000
    return [c[:7] + (generation,) for c in winners.values()
            if not (c[2] == DELETED and c[4] < gc_us)
            and not (c[2] == EXPIRING and c[6] <= gc_before_ms)]


def cell_digest(cells) -> tuple[int, int]:
    """(count, sum of crc32 of each cell's canonical bytes); the Spark
    side computes the same thing with ``workloads.digest_of``."""
    total = 0
    n = 0
    for c in cells:
        total += zlib.crc32(canonical(c))
        n += 1
    return n, total


def canonical(c: tuple) -> bytes:
    key, name, state, data, ts, ttl, exp, generation = c
    return b"%b\x00%b\x00%b\x00%b\x00%d\x00%b\x00%b\x00%d" % (
        key, name, state.encode(), data or b"", ts,
        b"" if ttl is None else b"%d" % ttl,
        b"" if exp is None else b"%d" % exp, generation)


def lookup_keys(spec: SnapshotSpec, seed: int, n: int) -> list[bytes]:
    """Zipf-distributed lookup keys over the written key ids; 10 % of
    the lookups ask for a key id no generation holds (the bloom
    filter's case)."""
    holes = hole_ids(spec, seed)
    written = [i for i in range(spec.keyspace) if i not in holes]
    rng = np.random.default_rng([seed, 7, spec.keyspace])
    rank_to_id = rng.permutation(written).tolist()
    hole_list = sorted(holes)
    out = []
    for _ in range(n):
        if rng.random() < 0.10:
            out.append(key_of(hole_list[int(rng.integers(len(hole_list)))]))
        else:
            r = int(rng.zipf(1.2))
            out.append(key_of(rank_to_id[(r - 1) % len(rank_to_id)]))
    return out


def hole_ids(spec: SnapshotSpec, seed: int) -> set[int]:
    rng = np.random.default_rng([seed, 3, spec.keyspace])
    return set(np.flatnonzero(rng.random(spec.keyspace) < spec.hole)
               .tolist())


# ---------------------------------------------------------------------------
# Corpus: documents with planted near-duplicates, embeddings, queries
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class CorpusSpec:
    docs: int = 1_200
    clusters: int = 100          # base docs that get near-duplicates
    vocab: int = 30_000
    words: tuple = (60, 100)     # doc length range
    vectors: int = 1_000
    dim: int = 16
    centers: int = 24
    queries: int = 8
    shingle: int = 4
    min_jaccard: float = 0.5


CORPUS = CorpusSpec()


def corpus(spec: CorpusSpec, seed: int) -> dict:
    rng = np.random.default_rng([seed, 11])
    texts: list[str] = []
    clusters: list[list[int]] = []
    n_base = spec.docs - spec.clusters * 2
    for _ in range(n_base):
        n = int(rng.integers(*spec.words))
        texts.append(" ".join("w%05d" % w
                              for w in rng.integers(0, spec.vocab, n)))
    bases = rng.choice(n_base, spec.clusters, replace=False).tolist()
    for b in bases:
        members = [b]
        words = texts[b].split(" ")
        for _ in range(2):
            mutated = list(words)
            for pos in rng.choice(len(words), int(rng.integers(1, 3)),
                                  replace=False).tolist():
                mutated[pos] = "w%05d" % int(rng.integers(0, spec.vocab))
            members.append(len(texts))
            texts.append(" ".join(mutated))
        clusters.append(members)
    order = rng.permutation(len(texts))          # ids do not reveal clusters
    doc_id = {old: int(new) for new, old in enumerate(order.tolist())}
    docs = [None] * len(texts)
    for old, t in enumerate(texts):
        docs[doc_id[old]] = t
    planted = {}
    for members in clusters:
        ids = sorted(doc_id[m] for m in members)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                j = jaccard(docs[a], docs[b], spec.shingle)
                if j >= spec.min_jaccard:
                    planted[(a, b)] = j

    centers = rng.standard_normal((spec.centers, spec.dim))
    assign = rng.integers(0, spec.centers, spec.vectors)
    vecs = (centers[assign]
            + 0.35 * rng.standard_normal((spec.vectors, spec.dim))
            ).astype(np.float32)
    qids = sorted(rng.choice(spec.vectors, spec.queries,
                             replace=False).tolist())
    return {"docs": docs, "planted": planted, "vectors": vecs,
            "query_ids": qids, "exact_top5": exact_topk(vecs, qids, 5)}


def shingles(text: str, n: int) -> set[str]:
    """``operators.dedup`` shingling: lower-case whitespace tokens,
    word n-grams joined by one space."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def exact_topk(vecs: np.ndarray, qids: list[int], k: int) -> dict:
    v = vecs.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for q in qids:
        cos = unit @ unit[q]
        cos[q] = -np.inf                 # the operator excludes the query
        out[q] = sorted(np.argsort(-cos, kind="stable")[:k].tolist())
    return out


def pq_reference(vecs: np.ndarray, qids: list[int],
                 books: list) -> dict:
    """query id -> {vector id: ADC score}, evaluated with the operator's
    own arithmetic order (left folds over subvectors, subspaces summed
    in order), so scores match ``cosine_topk_pq`` bit for bit."""
    m = len(books)
    d_sub = len(books[0][0])
    rows = vecs.astype(np.float64).tolist()
    codes = []
    for r in rows:
        cs = []
        for j in range(m):
            sub = r[j * d_sub:(j + 1) * d_sub]
            dists = []
            for c in books[j]:
                acc = 0.0
                for x, y in zip(sub, c):
                    acc = acc + (x - y) * (x - y)
                dists.append(acc)
            cs.append(dists.index(min(dists)))
        codes.append(cs)
    out = {}
    for q in qids:
        v = rows[q]
        acc = 0.0
        for x in v:
            acc = acc + x * x
        norm = math.sqrt(acc)
        qu = [x / norm for x in v]
        scores = {}
        for i, cs in enumerate(codes):
            if i == q:
                continue
            total = None
            for j in range(m):
                part = 0.0
                for x, y in zip(qu[j * d_sub:(j + 1) * d_sub],
                                books[j][cs[j]]):
                    part = part + x * y
                total = part if total is None else total + part
            scores[i] = total
        out[q] = scores
    return out


def write_corpus(data: dict, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = data["docs"]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
        "source": pa.array(["perfbench"] * len(docs), pa.string()),
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    vecs = data["vectors"]
    emb = pa.array(vecs.tolist(), pa.list_(pa.float32()))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": emb,
        "label": pa.array([0] * len(vecs), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    qids = data["query_ids"]
    pq.write_table(pa.table({
        "query_id": pa.array(qids, pa.int64()),
        "embedding": pa.array(vecs[qids].tolist(), pa.list_(pa.float32())),
    }), os.path.join(out_dir, "queries.parquet"))
