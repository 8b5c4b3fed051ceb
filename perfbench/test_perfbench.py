"""Tests of the benchmark's own parts: seeded inputs are reproducible, the
pure-Python references agree with the engine on a tiny input, and the
answer checks reject wrong answers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import workloads  # noqa: E402

TINY = {
    fmt: gen.SnapshotSpec(fmt=fmt, generations=3, keyspace=80,
                          copies=2, names=6, tombstone=0.2, ttl=0.25,
                          wide_keys=1, wide_cells=30)
    for fmt in ("native", "cassandra")
}
TINY_CORPUS = gen.CorpusSpec(docs=60, clusters=8, vocab=500, vectors=40,
                             dim=8, centers=4, queries=3)


def _files(root: str) -> dict:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("fmt", sorted(TINY))
def test_snapshot_files_are_byte_identical_per_seed(tmp_path, fmt):
    spec = TINY[fmt]
    for run in ("a", "b"):
        gen.write_snapshot(spec, gen.snapshot_cells(spec, 5),
                           str(tmp_path / run))
    gen.write_snapshot(spec, gen.snapshot_cells(spec, 6), str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / r)) for r in "abc")
    assert a and a == b
    assert a != c


def test_corpus_files_are_byte_identical_per_seed(tmp_path):
    for run in ("a", "b"):
        gen.write_corpus(gen.corpus(TINY_CORPUS, 5), str(tmp_path / run))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a and a == b


def test_generated_cell_mix_has_every_case():
    spec = TINY["native"]
    cells = gen.flat_cells(gen.snapshot_cells(spec, 3))
    states = {c[2] for c in cells}
    assert states == {gen.NORMAL, gen.DELETED, gen.EXPIRING}
    exp = [c[6] for c in cells if c[2] == gen.EXPIRING]
    assert min(exp) <= gen.AS_OF_MS < max(exp)      # some dead, some live


def test_planted_pairs_are_near_duplicates():
    data = gen.corpus(TINY_CORPUS, 1)
    assert data["planted"]
    for (a, b), j in data["planted"].items():
        assert a < b and j >= TINY_CORPUS.min_jaccard


@pytest.fixture(scope="module")
def spark():
    from sstable_hadoop_spark.plans import get_session

    return get_session()


def _cells(rows) -> list:
    return [workloads._row_tuple(r) for r in rows]


@pytest.mark.parametrize("fmt", sorted(TINY))
def test_reference_matches_lww_cell_and_live_view(spark, tmp_path, fmt):
    from sstable_hadoop_spark.operators.lww import live_view, lww_cell

    spec = TINY[fmt]
    by_gen = gen.snapshot_cells(spec, 9)
    gen.write_snapshot(spec, by_gen, str(tmp_path))
    cells = gen.flat_cells(by_gen)
    df = (spark.read.format("sstable").option("kind", "cells")
          .option("format", fmt).load(str(tmp_path)))
    assert workloads.digest_of(df) == gen.cell_digest(cells)

    winners = gen.lww_reference(cells)
    got = _cells(lww_cell(df).select(*gen_cols()).collect())
    assert sorted(got, key=repr) == sorted(winners.values(), key=repr)

    live = _cells(live_view(df, gen.AS_OF_MS).select(*gen_cols()).collect())
    want = gen.live_reference(winners, gen.AS_OF_MS)
    assert sorted(live, key=repr) == sorted(want, key=repr)
    assert workloads.digest_of(live_view(df, gen.AS_OF_MS)) == \
        gen.cell_digest(want)


def gen_cols() -> list:
    return ["key", "name", "state", "data", "timestamp", "ttl", "expiration",
            "generation"]


def test_compaction_reference_matches_compact(spark, tmp_path):
    from sstable_hadoop_spark.operators.compaction import compact

    spec = TINY["native"]
    by_gen = gen.snapshot_cells(spec, 4)
    gen.write_snapshot(spec, by_gen, str(tmp_path / "in"))
    compact(spark, str(tmp_path / "in"), str(tmp_path / "out"),
            compressed=True, gc_before_ms=gen.AS_OF_MS)
    out = (spark.read.format("sstable").option("kind", "cells")
           .load(str(tmp_path / "out")))
    want = gen.gc_reference(gen.lww_reference(gen.flat_cells(by_gen)),
                            gen.AS_OF_MS, spec.generations + 1)
    assert workloads.digest_of(out) == gen.cell_digest(want)


def test_checks_reject_wrong_answers():
    data = gen.corpus(TINY_CORPUS, 2)
    ref = {"docs": data["docs"], "planted": data["planted"]}
    (a, b), j = next(iter(data["planted"].items()))
    assert workloads._check_pairs([{"id_a": a, "id_b": b, "jaccard": j}],
                                  ref) is None
    assert workloads._check_pairs([{"id_a": a, "id_b": b,
                                    "jaccard": j - 0.01}], ref)
    assert workloads._check_pairs([{"id_a": b, "id_b": a, "jaccard": j}],
                                  ref)

    scores = {0: {1: 0.9, 2: 0.8, 3: 0.1}}
    good = [{"query_id": 0, "vec_id": 1, "rk": 1, "adc": 0.9},
            {"query_id": 0, "vec_id": 2, "rk": 2, "adc": 0.8}]
    assert workloads._check_topk(good, scores, 2) is None
    bad = [dict(good[0]), {"query_id": 0, "vec_id": 3, "rk": 2, "adc": 0.1}]
    assert workloads._check_topk(bad, scores, 2)
    assert workloads._expect((1, 2))((1, 3))
