"""The two workloads: inputs (generated once per seed and cached), the
timed operations, and the checks of every answer against the reference.

Each workload has one *job* (its bulk operation, reported as input items
per second) and one repeated *op* (reported as a median latency):

====================  ==========================================  ======================================
workload              job -> ``job_items_per_s``                   op -> ``op_p50_s``
====================  ==========================================  ======================================
cassandra_snapshot    cells/s: 1.x scan -> lww_cell -> live_view   full ``format=cassandra`` cell scan
fragmented_snapshot   cells/s: full scan of 16 generations         ``filter(key == k)`` lookup
====================  ==========================================  ======================================

JIT compilation, code generation and Python worker start-up make the first
runs of each operation in a fresh session slow (a cold 1.x scan takes five
times a warm one, and the JIT keeps speeding a reconcile up for several
more), so each workload first warms up: its operations run a few times,
checked but not timed into a metric.  The measured samples follow, the
two operations interleaved, for at least ``--seconds`` seconds and at
least a minimum count; each metric is the median of its samples.

The traced runs add what the end-to-end loop does not time:
``fragmented_snapshot`` compacts its snapshot (``compact()`` and the
``sstable`` sink, timed apart), and ``cassandra_snapshot`` runs the corpus
operators (MinHash dedup and PQ top-k) once over a generated corpus.

Timed results go to a digest (row count plus a sum of per-row crc32) or
are collected, so that every answer can be checked; the digest reads
every output column, as a ``noop`` write would.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen

#: ``train_pq_codebooks`` settings for the corpus
PQ = {"m": 4, "k_codes": 16, "n_iter": 1}
#: JIT compilation, code generation and Python worker start-up slow the
#: first runs of an operation in a fresh session: ``fragmented_snapshot``
#: first runs ``WARMUP`` rounds of a scan and a lookup, checked but not
#: reported
WARMUP = 2
#: LWW merges over cached cells that warm ``cassandra_snapshot`` up
MERGE_WARMUP = 5
#: measured samples at least, past the warm-up: scans and reconciles
REPS_MIN = 5
#: lookups measured per scan in ``fragmented_snapshot``
LOOKUPS_PER_SCAN = 3
MAX_FAILED = 4


# ---------------------------------------------------------------------------
# Inputs, cached per (workload, seed) outside the clock
# ---------------------------------------------------------------------------

def prepare(workload: str, seed: int, cache_root: str) -> dict:
    """Generate the inputs and reference answers once per seed; later
    runs with the same seed reuse them."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-{_input_tag()}")
    ref_path = os.path.join(d, "reference.pkl")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        ref = _generate(workload, seed, os.path.join(d, "data"))
        with open(ref_path, "wb") as f:
            pickle.dump(ref, f)
        open(os.path.join(d, ".done"), "w").close()
    with open(ref_path, "rb") as f:
        ref = pickle.load(f)                  # written by _generate above
    ref["data"] = os.path.join(d, "data")
    return ref


def _input_tag() -> str:
    """Hash of the code that makes the inputs and references: the
    generator, this module and the engine's writers (``sources``).  A
    checkout with other writers gets its own cache entry, so each one
    reads files its own writers produced."""
    from sstable_hadoop_spark import sources

    src = os.path.dirname(sources.__file__)
    files = [gen.__file__, __file__] + sorted(
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".py"))
    h = hashlib.sha256()
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _generate(workload: str, seed: int, data: str) -> dict:
    if workload == "corpus":
        c = gen.corpus(gen.CORPUS, seed)
        gen.write_corpus(c, data)
        return {"docs": c["docs"], "planted": c["planted"],
                "vectors": c["vectors"], "query_ids": c["query_ids"],
                "exact_top5": c["exact_top5"]}
    spec = gen.SNAPSHOTS[workload]
    by_gen = gen.snapshot_cells(spec, seed)
    gen.write_snapshot(spec, by_gen, data)
    cells = gen.flat_cells(by_gen)
    ref = {"seed": seed, "n_cells": len(cells),
           "scan": gen.cell_digest(cells)}
    if workload == "cassandra_snapshot":
        ref["live"] = gen.cell_digest(gen.live_reference(
            gen.lww_reference(cells), gen.AS_OF_MS))
    elif workload == "fragmented_snapshot":
        keys = gen.lookup_keys(spec, seed, 400)
        by_key: dict = {}
        for c in cells:
            by_key.setdefault(c[0], []).append(c)
        ref["lookups"] = [(k, sorted(by_key.get(k, []), key=_sort_key))
                          for k in keys]
    return ref


def compaction_reference(seed: int, data: str) -> dict:
    """What compacting the fragmented snapshot must produce; only the
    traced run needs it."""
    spec = gen.SNAPSHOTS["fragmented_snapshot"]
    winners = gen.lww_reference(gen.flat_cells(gen.snapshot_cells(spec,
                                                                  seed)))
    out_gen = spec.generations + 1
    kept = gen.gc_reference(winners, gen.AS_OF_MS, out_gen)
    return {"out_generation": out_gen,
            "winners": gen.cell_digest(winners.values()),
            "compacted": gen.cell_digest(kept),
            "compacted_rows": _rows_of(kept),
            "input_bytes": _data_bytes(data)}


def _sort_key(c: tuple) -> tuple:
    return tuple(b"" if v is None else v for v in c[:2]) + (c[7],)


def _rows_of(cells: list) -> list:
    rows: dict = {}
    for c in cells:
        rows.setdefault(c[0], []).append(c)
    return [(k, sorted(v, key=lambda c: c[1])) for k, v in sorted(rows.items())]


def _data_bytes(directory: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs_ in os.walk(directory) for f in fs_
               if f.endswith("-Data.db"))


# ---------------------------------------------------------------------------
# Running and checking operations
# ---------------------------------------------------------------------------

@dataclass
class Ctx:
    spark: object
    tracer: object
    seconds: float
    trace: bool
    scratch: str
    cache: str
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def attempt(self, name: str, fn, check):
        """Run ``fn`` inside a span and time it; ``check(out)`` returns
        None or what is wrong.  Returns ``(seconds, out, counts)``, or
        None when the operation raised or answered wrongly."""
        self.attempted += 1
        try:
            with self.tracer.span(name) as counts:
                t0 = time.perf_counter()
                out = fn(counts)
                dt = time.perf_counter() - t0
        except Exception:                     # a failed op is counted, not fatal
            self.failed += 1
            self.problems.append(f"{name}: raised")
            traceback.print_exc(file=sys.stderr)
            return None
        problem = check(out)
        if problem:
            self.failed += 1
            self.problems.append(f"{name}: {problem}")
            return None
        return dt, out, counts


def digest_of(df) -> tuple[int, int]:
    """Spark twin of ``gen.cell_digest`` over a cell-shaped frame."""
    from pyspark.sql import functions as F

    sep = F.lit(bytearray(b"\x00"))

    def num(c):
        return F.encode(F.coalesce(F.col(c).cast("string"), F.lit("")),
                        "UTF-8")

    row = F.concat(F.col("key"), sep, F.col("name"), sep,
                   F.encode(F.col("state"), "UTF-8"), sep,
                   F.coalesce(F.col("data"), F.lit(bytearray(b""))), sep,
                   num("timestamp"), sep, num("ttl"), sep, num("expiration"),
                   sep, num("generation"))
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.crc32(row)).alias("h")).collect()[0]
    return r["n"], r["h"] or 0


def _expect(want):
    return lambda got: None if got == want else f"got {got}, want {want}"


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def _spark(tracer, spans: list, key: str) -> float:
    """Median over ``spans`` of a Spark stage metric, each span counted
    with its child spans (a child span's jobs carry the child's group)."""
    return _median([sum(x["spark"][key] for x in tracer.subtree(s))
                    for s in spans])


def _generic(ctx: Ctx, job_name: str, op_name: str, job_rate: float,
             op_p50: float) -> dict:
    """Per-layer metrics every workload reports."""
    t = ctx.tracer
    job, op = t.by_name(job_name), t.by_name(op_name)
    return {
        "job.spark_jobs": _spark(t, job, "jobs"),
        "job.spark_tasks": _spark(t, job, "tasks"),
        "job.executor_cpu_s": _spark(t, job, "executor_cpu_s"),
        "job.gc_s": _spark(t, job, "gc_s"),
        "op.spark_jobs": _spark(t, op, "jobs"),
        "op.spark_tasks": _spark(t, op, "tasks"),
        "op.executor_cpu_s": _spark(t, op, "executor_cpu_s"),
        "op.gc_s": _spark(t, op, "gc_s"),
        "trace.job_items_per_s": job_rate,
        "trace.op_p50_s": op_p50,
    }


def _until(ctx: Ctx, t0: float, reps: int, min_reps: int) -> bool:
    """Keep measuring: fewer than ``min_reps`` good samples or time
    left, unless failures say the run is lost anyway."""
    if ctx.failed > MAX_FAILED:
        return False
    return reps < min_reps or time.perf_counter() - t0 < ctx.seconds


def _warm_up(ctx: Ctx, ops: list) -> list:
    """Run each ``(name, fn, check)`` of ``ops`` in turn, checked like any
    operation (spans named ``<name>.warmup``).  Returns the warm-up
    times, for the log only."""
    times = []
    for name, fn, check in ops:
        r = ctx.attempt(f"{name}.warmup", fn, check)
        times.append(r[0] if r else float("nan"))
    return times


def _decode_s(partitions, decode) -> tuple[int, float]:
    """(cells, seconds) to decode ``partitions`` in this process, one
    core -- the decode share of a scan without Spark around it."""
    n = 0
    t0 = time.perf_counter()
    for p in partitions:
        if p.path:
            for batch in decode(p):
                n += batch.num_rows
    return n, time.perf_counter() - t0


def _check_count(ctx: Ctx, what: str, got: int, want: int) -> None:
    ctx.attempted += 1
    if got != want:
        ctx.failed += 1
        ctx.problems.append(f"{what}: {got} cells, want {want}")


def _scan_layers(ctx: Ctx, span: str, decode_s: float) -> dict:
    spans = ctx.tracer.by_name(span)
    tasks = _spark(ctx.tracer, spans, "tasks")
    run_s = _spark(ctx.tracer, spans, "executor_run_s")
    return {"scan.tasks": tasks, "scan.executor_run_s": run_s,
            "scan.fixed_s_per_task": (run_s - decode_s) / tasks
            if tasks else 0.0}


# ---------------------------------------------------------------------------
# cassandra_snapshot
# ---------------------------------------------------------------------------

def run_cassandra_snapshot(ctx: Ctx, ref: dict) -> dict:
    from sstable_hadoop_spark.operators.lww import live_view

    spark = ctx.spark
    opts = {"path": ref["data"], "format": "cassandra", "kind": "cells"}

    def cells():
        return spark.read.format("sstable").options(**opts).load()

    def reconcile(counts):
        t0 = time.perf_counter()
        df = live_view(cells(), gen.AS_OF_MS)
        counts["build_s"] = time.perf_counter() - t0
        return digest_of(df)

    def scan(counts):
        return digest_of(cells())

    # One cold scan and reconcile, then the LWW merge over cached cells
    # MERGE_WARMUP times: a reconcile's JIT-compiled aggregation keeps
    # speeding up for ~10 reconciles of the files, and the cached merges
    # (half a reconcile's time each) bring it near that speed sooner.
    warm = _warm_up(ctx, [("scan", scan, _expect(ref["scan"])),
                          ("reconcile", reconcile, _expect(ref["live"]))])
    cached = cells().cache()
    warm += _warm_up(ctx, [
        ("cache_cells", lambda c: digest_of(cached), _expect(ref["scan"]))
    ] + [("lww_merge", lambda c: digest_of(live_view(cached, gen.AS_OF_MS)),
          _expect(ref["live"]))] * MERGE_WARMUP)
    cached.unpersist(blocking=True)
    scans, recs = [], []
    t0 = time.perf_counter()
    while _until(ctx, t0, min(len(scans), len(recs)), REPS_MIN):
        r = ctx.attempt("scan", scan, _expect(ref["scan"]))
        if r:
            scans.append(r[0])
        r = ctx.attempt("reconcile", reconcile, _expect(ref["live"]))
        if r:
            recs.append(r[0])
    job_rate = ref["n_cells"] / _median(recs) if recs else 0.0
    out = {"job_items_per_s": job_rate, "op_p50_s": _median(scans),
           "job_s": recs, "op_s": scans, "warmup_s": warm}
    if not ctx.trace:
        return out

    from sstable_hadoop_spark.sources import cassandra1x, codec
    from sstable_hadoop_spark.sources.datasource import SSTableReader

    parts = SSTableReader(dict(opts)).partitions()
    n, dec_s = _decode_s(parts, lambda p: codec.cells_to_batches(
        ((row.key, c) for row in cassandra1x.read_cassandra_rows(
            p.path, p.start, p.end) for c in row.cells),
        generation=p.generation))
    _check_count(ctx, "in-process 1.x decode", n, ref["n_cells"])
    cached = cells().cache()
    ctx.attempt("cache_cells", lambda c: digest_of(cached),
                _expect(ref["scan"]))
    merges = []
    for _ in range(2):
        r = ctx.attempt("lww_merge",
                        lambda c: digest_of(live_view(cached, gen.AS_OF_MS)),
                        _expect(ref["live"]))
        if r:
            merges.append(r[0])
    cached.unpersist()
    rec_spans = ctx.tracer.by_name("reconcile")
    layers = {
        **corpus_layers(ctx, prepare("corpus", ref["seed"], ctx.cache)),
        "cassandra1x.decode_cells_per_s": n / dec_s,
        "lww.build_s": _median([s["counts"]["build_s"] for s in rec_spans]),
        "lww.merge_s": _median(merges),
        "lww.shuffle_write_bytes": _spark(ctx.tracer, rec_spans,
                                          "shuffle_write_bytes"),
        **_scan_layers(ctx, "scan", dec_s),
        **_generic(ctx, "reconcile", "scan", job_rate, out["op_p50_s"]),
    }
    return {**out, "layers": layers}


# ---------------------------------------------------------------------------
# fragmented_snapshot
# ---------------------------------------------------------------------------

def _row_tuple(r) -> tuple:
    return (bytes(r["key"]), bytes(r["name"]), r["state"],
            None if r["data"] is None else bytes(r["data"]),
            r["timestamp"], r["ttl"], r["expiration"], r["generation"])


def run_fragmented_snapshot(ctx: Ctx, ref: dict) -> dict:
    from pyspark.sql import functions as F

    spark = ctx.spark
    opts = {"path": ref["data"], "kind": "cells"}

    def cells():
        return spark.read.format("sstable").options(**opts).load()

    def lookup(key):
        return lambda c: sorted(
            (_row_tuple(r) for r in
             cells().filter(F.col("key") == F.lit(key)).collect()),
            key=_sort_key)

    def scan(counts):
        return digest_of(cells())

    # the warm-up rounds take the last lookup keys, the measured ones the
    # first
    warm = []
    for key, want in ref["lookups"][-WARMUP:]:
        warm += _warm_up(ctx, [("scan", scan, _expect(ref["scan"])),
                               ("lookup", lookup(key), _expect(want))])
    measured = iter(ref["lookups"][:-WARMUP])
    scans, lookups = [], []
    t0 = time.perf_counter()
    # rounds of one scan and LOOKUPS_PER_SCAN lookups, so both metrics
    # sample the whole measured window
    while _until(ctx, t0, min(len(scans), len(lookups) // LOOKUPS_PER_SCAN),
                 REPS_MIN):
        r = ctx.attempt("scan", scan, _expect(ref["scan"]))
        if r:
            scans.append(r[0])
        for key, want in itertools.islice(measured, LOOKUPS_PER_SCAN):
            r = ctx.attempt("lookup", lookup(key), _expect(want))
            if r:
                lookups.append(r[0])
    job_rate = ref["n_cells"] / _median(scans) if scans else 0.0
    out = {"job_items_per_s": job_rate, "op_p50_s": _median(lookups),
           "job_s": scans, "op_s": lookups, "warmup_s": warm}
    if not ctx.trace:
        return out

    from pyspark.sql.datasource import EqualTo

    from sstable_hadoop_spark.sources import codec, fs
    from sstable_hadoop_spark.sources.datasource import SSTableReader

    list_s = []
    for _ in range(5):
        with ctx.tracer.span("fs.list"):
            t = time.perf_counter()
            files = fs.list_files(ref["data"], "-Data.db")
            list_s.append(time.perf_counter() - t)
    plan_s, pruned, admitted_hit = [], 0, []
    used = ref["lookups"][:len(lookups)]
    for key, want in used:
        with ctx.tracer.span("datasource.plan"):
            t = time.perf_counter()
            reader = SSTableReader(dict(opts))
            reader.pushFilters([EqualTo(("key",), key)])
            parts = reader.partitions()
            plan_s.append(time.perf_counter() - t)
        pruned += len(files) - len({p.path for p in parts if p.path})
        if want:
            admitted_hit.append(sum(p.end - p.start for p in parts
                                    if p.path))
    full = SSTableReader(dict(opts)).partitions()
    n, dec_s = _decode_s(full, lambda p: codec.read_cell_batches(
        p.path, p.start, p.end, generation=p.generation))
    _check_count(ctx, "in-process decode", n, ref["n_cells"])
    layers = {
        "fs.list_s": _median(list_s),
        "datasource.plan_s": _median(plan_s),
        "datasource.splits_planned": len(full),
        "datasource.files_bloom_pruned_ratio":
            pruned / (len(files) * len(used)) if used else 0.0,
        "datasource.bytes_admitted_per_hit": _median(admitted_hit),
        "codec.decode_cells_per_s": n / dec_s,
        "lookup.p90_s": _quantile(lookups, 0.9),
        "lookup.count": len(lookups),
        **_scan_layers(ctx, "scan", dec_s),
        **_compaction_layers(ctx, ref),
        **_generic(ctx, "scan", "lookup", job_rate, out["op_p50_s"]),
    }
    return {**out, "layers": layers}


def _quantile(xs: list, q: float) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100)[int(q * 100) - 1]


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------

def _compaction_layers(ctx: Ctx, snap: dict) -> dict:
    """The write path on the fragmented snapshot: one ``compact()``
    (GC at the read time), then its parts apart -- the LWW merge on
    cached cells, the ``sstable`` sink writing cached winners, and the
    codec encoding in this process."""
    ref = {**snap, **compaction_reference(snap["seed"], snap["data"])}
    from pyspark.sql import functions as F

    from sstable_hadoop_spark.operators.compaction import _gc, compact
    from sstable_hadoop_spark.operators.lww import collect_rows, lww_cell
    from sstable_hadoop_spark.sources import codec

    spark = ctx.spark

    def read(path):
        return spark.read.format("sstable").option("kind", "cells").load(path)

    out_dir = os.path.join(ctx.scratch, "compacted")
    r = ctx.attempt("compact", lambda c: compact(
        spark, ref["data"], out_dir, compressed=True,
        gc_before_ms=gen.AS_OF_MS), lambda out: None)
    compact_s = r[0] if r else 0.0
    ctx.attempt("compact_read_back", lambda c: digest_of(read(out_dir)),
                _expect(ref["compacted"]))
    ratio = _data_bytes(out_dir) / ref["input_bytes"]
    shutil.rmtree(out_dir, ignore_errors=True)

    rows = [codec.Row(k, [codec.Cell(name=c[1], state=c[2], data=c[3],
                                     timestamp=c[4], ttl=c[5],
                                     expiration=c[6]) for c in cs])
            for k, cs in ref["compacted_rows"]]
    enc_dir = os.path.join(ctx.scratch, "encode")
    t = time.perf_counter()
    codec.write_sstable(enc_dir, "enc", rows, generation=1, compressed=True)
    enc_s = time.perf_counter() - t
    shutil.rmtree(enc_dir, ignore_errors=True)

    cached = read(ref["data"]).cache()
    ctx.attempt("cache_cells", lambda c: digest_of(cached),
                _expect(ref["scan"]))
    merges = []
    for _ in range(2):
        r = ctx.attempt("lww_merge", lambda c: digest_of(lww_cell(cached)),
                        _expect(ref["winners"]))
        if r:
            merges.append(r[0])
    nested = collect_rows(
        _gc(lww_cell(cached), gen.AS_OF_MS)
        .withColumn("generation", F.lit(ref["out_generation"]).cast("int")),
        by_generation=True).cache()
    nested.count()
    sink_dir = os.path.join(ctx.scratch, "sink")
    r = ctx.attempt("sink_write", lambda c: (
        nested.write.format("sstable").option("path", sink_dir)
        .option("name", "compacted").option("compressed", "true")
        .mode("append").save()), lambda out: None)
    write_s = r[0] if r else 0.0
    ctx.attempt("sink_read_back", lambda c: digest_of(read(sink_dir)),
                _expect(ref["compacted"]))
    sink_span = ctx.tracer.by_name("sink_write")[-1]
    out_bytes = _data_bytes(sink_dir)
    shutil.rmtree(sink_dir, ignore_errors=True)
    nested.unpersist()
    cached.unpersist()
    return {
        "compaction.cells_per_s": ref["n_cells"] / compact_s
        if compact_s else 0.0,
        "compaction.build_jobs": _spark(
            ctx.tracer, ctx.tracer.by_name("compact"), "jobs"),
        "compaction.bytes_ratio": ratio,
        "codec.encode_rows_per_s": len(rows) / enc_s,
        "lww.merge_s": _median(merges),
        "sink.write_s": write_s,
        "sink.driver_commit_s": write_s - sink_span["spark"]["job_s"]
        if write_s else 0.0,
        "sink.bytes_out_per_cell": out_bytes / ref["compacted"][0],
    }


# ---------------------------------------------------------------------------
# The corpus operators (traced run of cassandra_snapshot)
# ---------------------------------------------------------------------------

def _check_pairs(rows, ref: dict):
    docs, planted = ref["docs"], ref["planted"]
    seen = set()
    for r in rows:
        a, b, j = r["id_a"], r["id_b"], r["jaccard"]
        if not a < b or (a, b) in seen:
            return f"pair ({a}, {b}) out of order or repeated"
        seen.add((a, b))
        exact = gen.jaccard(docs[a], docs[b], gen.CORPUS.shingle)
        if abs(exact - j) > 1e-9 or exact < gen.CORPUS.min_jaccard:
            return f"pair ({a}, {b}) jaccard {j}, exact {exact}"
    return None


def _check_topk(rows, scores: dict, k: int):
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    if sorted(by_q) != sorted(scores):
        return f"answered queries {sorted(by_q)}"
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rk"])
        if [r["rk"] for r in rs] != list(range(1, k + 1)):
            return f"query {q}: ranks {[r['rk'] for r in rs]}"
        want = scores[q]
        kth = sorted(want.values(), reverse=True)[k - 1]
        for r in rs:
            s = want.get(r["vec_id"])
            if s is None or abs(s - r["adc"]) > 1e-9 or s < kth - 1e-9:
                return f"query {q}: id {r['vec_id']} adc {r['adc']}"
    return None


def corpus_layers(ctx: Ctx, ref: dict) -> dict:
    """``operators.dedup`` and ``operators.similarity`` on the generated
    corpus: one ``minhash_dedup_pairs`` (build, then execute) and one PQ
    top-k (``train_pq_codebooks``, then ``cosine_topk_pq``), each checked
    against the reference."""
    from sstable_hadoop_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_dedup_pairs, minhash_signatures,
        word_shingles)
    from sstable_hadoop_spark.operators.similarity import (
        cosine_topk_pq, train_pq_codebooks)

    spark = ctx.spark
    path = ref["data"]
    docs = spark.read.parquet(os.path.join(path, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(path, "embeddings.parquet"))
    queries = spark.read.parquet(os.path.join(path, "queries.parquet"))
    planted = ref["planted"]
    t = ctx.tracer
    out = dict.fromkeys(("dedup.build_s", "dedup.run_s", "pq.train_s",
                         "pq.search_run_s"), 0.0)

    def dedup(counts):
        with t.span("dedup.build"):
            t0 = time.perf_counter()
            df = minhash_dedup_pairs(docs)
            out["dedup.build_s"] = time.perf_counter() - t0
        with t.span("dedup.run"):
            t0 = time.perf_counter()
            rows = df.collect()
            out["dedup.run_s"] = time.perf_counter() - t0
        return rows

    def topk(counts):
        with t.span("pq.train"):
            t0 = time.perf_counter()
            books = train_pq_codebooks(emb, **PQ)
            out["pq.train_s"] = time.perf_counter() - t0
        with t.span("pq.search"):
            t0 = time.perf_counter()
            rows = cosine_topk_pq(emb, queries, k=5, m=PQ["m"],
                                  k_codes=PQ["k_codes"],
                                  codebooks=books).collect()
            out["pq.search_run_s"] = time.perf_counter() - t0
        return books, rows

    def check_topk(result):
        books, rows = result
        scores = gen.pq_reference(ref["vectors"], ref["query_ids"], books)
        return _check_topk(rows, scores, 5)

    r = ctx.attempt("dedup", dedup, lambda rows: _check_pairs(rows, ref))
    found = {(x["id_a"], x["id_b"]) for x in r[1]} if r else set()
    r = ctx.attempt("pq_topk", topk, check_topk)
    got: dict = {}
    for x in (r[1][1] if r else []):
        got.setdefault(x["query_id"], set()).add(x["vec_id"])
    with t.span("dedup.candidates"):
        cand = lsh_candidate_pairs(minhash_signatures(
            word_shingles(docs, distinct=False), 16), 4, 4).count()
    return {
        **out,
        "dedup.build_jobs": _spark(t, t.by_name("dedup.build"), "jobs"),
        "dedup.candidates_per_pair": cand / max(1, len(found)),
        "dedup.pair_recall": len(found & planted.keys()) / len(planted),
        "pq.build_jobs": _spark(t, t.by_name("pq.train"), "jobs"),
        "pq.recall_at_5": statistics.mean(
            len(got.get(q, set()) & set(ids)) / 5
            for q, ids in ref["exact_top5"].items()),
    }


RUNNERS = {"cassandra_snapshot": run_cassandra_snapshot,
           "fragmented_snapshot": run_fragmented_snapshot}
