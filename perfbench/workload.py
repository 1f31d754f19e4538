"""The store traffic one benchmark run drives through the public API.

A run builds a store from a seeded ``sources.tokens`` corpus (all 11
profiles) ``SETUP_REPS`` times into fresh directories — every build is
a set-up sample, the first is the cold warm-up and the others are
ingest samples — then runs a closed loop of store operations, in a
fixed order on seeded ids and data, against the last build for the
requested number of seconds:

- ``scan``: ``decode_auto(read_encoded(snapshot))`` folded to a
  (count, tokens, xxhash64 XOR) fingerprint — one training epoch;
- ``fetch``: ``fetch(ids)`` of a small id batch, a quarter of them
  time-travel reads ``as_of_seq`` = the build commit;
- ``delete``: tombstone ``delete`` of live ids;
- ``append``: ``append`` upserting re-drawn documents (some resurrect
  deleted ids).

A driver-side model of live, deleted and upserted documents (and of the
as-of view, which compaction folds forward) checks every result outside
the timed regions.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from . import stats

SNAP = "bench"
SETUP_REPS = 3
AS_OF_SHARE = 0.25
RESURRECT_SHARE = 0.25
FOLD = "bit_xor(xxhash64(doc_id, tokens))"


@dataclass(frozen=True)
class Shape:
    """Input properties of one workload."""
    docs: int
    buckets: int
    # op kinds of one round, in order: the first read after a mutation
    # pays for the new delta files, so a seed-dependent order would add
    # run-to-run spread that no code change caused
    round: tuple
    fetch_ids: int = 10
    delete_ids: int = 10
    append_docs: int = 20


SHAPES = {
    # few large buckets, read-mostly: ingest and scan move the most
    # token mass per op, so codec kernels and the Arrow boundary weigh
    "bulk": Shape(docs=3000, buckets=8,
                  round=("scan", "fetch", "fetch", "delete", "fetch",
                         "scan", "append", "fetch")),
    # small store spread over many buckets, point traffic (6:2:1
    # fetch/delete/upsert): driver fixed cost, metadata I/O and
    # merge-on-read over the deltas the mutations leave dominate
    "serve": Shape(docs=1000, buckets=32,
                   round=("fetch", "fetch", "delete", "fetch", "scan",
                          "append", "fetch", "fetch", "delete", "fetch")),
}


@dataclass
class OpRecord:
    op_id: int
    kind: str
    start: float            # epoch seconds
    end: float
    latency_s: float        # perf_counter duration of the timed region
    traced: bool
    ok: bool = True
    tokens: int = 0         # token mass the op moved (ingest/scan/append)
    rows: int = 0           # rows a fetch returned
    user_bytes: int = 0     # raw token bytes written by the caller
    phase: str = "loop"     # setup | warmup | loop | check


@dataclass
class Model:
    """Expected logical contents: doc_id -> (tokens, row hash)."""
    current: dict
    as_of: dict
    bucket: dict            # doc_id -> bucket salt
    universe: list          # every id that ever existed, sorted

    def live_ids(self) -> list:
        return sorted(self.current)

    def dead_ids(self) -> list:
        return sorted(set(self.universe) - set(self.current))

    def expect_scan(self, view: dict):
        tokens = sum(len(t) for t, _ in view.values())
        fp = 0
        for _, h in view.values():
            fp ^= h
        return len(view), tokens, fp


def read_corpus(path: str):
    """(doc_id -> int32 tokens, total tokens) from the corpus parquet,
    read with pyarrow."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "tokens"])
    ids = t.column("doc_id").to_pylist()
    toks = t.column("tokens").combine_chunks()
    flat = toks.values.to_numpy(zero_copy_only=False).astype(np.int32)
    off = toks.offsets.to_numpy()
    docs = {d: flat[off[i]:off[i + 1]] for i, d in enumerate(ids)}
    return docs, int(flat.size)


def lineage_rows(store: str) -> list:
    """Committed lineage rows of the benchmark snapshot, read from the
    lineage parquet files on disk."""
    import pyarrow.parquet as pq

    root = os.path.join(store, "lineage")
    return [r for name in sorted(os.listdir(root)) if name.endswith(".parquet")
            for r in pq.read_table(os.path.join(root, name)).to_pylist()
            if r["snapshot_id"] == SNAP and r["status"] == "committed"]


def lineage_totals(store: str) -> tuple:
    """(docs, tokens) summed over the latest lineage row of each
    bucket (latest = highest commit_seq, then committed_at)."""
    latest: dict = {}
    for r in lineage_rows(store):
        key = (r["commit_seq"], r["committed_at"])
        if r["bucket"] not in latest or key >= latest[r["bucket"]][0]:
            latest[r["bucket"]] = (key, r["docs"], r["tokens"])
    return (sum(v[1] for v in latest.values()),
            sum(v[2] for v in latest.values()))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def list_files(path: str) -> dict:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def delta_dirs(store: str, nb: int) -> dict:
    """bucket -> number of live delta_seq directories."""
    snap = os.path.join(store, "delta", f"snapshot_id={SNAP}")
    out = {}
    for b in range(nb):
        d = os.path.join(snap, f"bucket={b}")
        if os.path.isdir(d):
            out[b] = sum(1 for c in os.listdir(d) if c.startswith("delta_seq="))
    return out


@dataclass
class StoreBench:
    spark: object
    work: str
    shape: Shape
    seed: int
    tracer: object
    trace: bool
    cores: int
    ops: list = field(default_factory=list)
    setup_rep_s: list = field(default_factory=list)
    corpus_s: list = field(default_factory=list)
    ingest_s: list = field(default_factory=list)
    stored_bpt: list = field(default_factory=list)
    writes: list = field(default_factory=list)   # (op_id, bytes, files, user)
    compactions: int = 0
    compaction_bytes: int = 0
    failures: list = field(default_factory=list)
    attempted: int = 0
    phase_s: dict = field(default_factory=dict)  # sub-phase wall times

    # -- bookkeeping ---------------------------------------------------------

    def _fail(self, what: str, exc: BaseException | None = None) -> None:
        msg = what if exc is None else f"{what}: {exc!r}"
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def _check(self, cond: bool, what: str) -> None:
        if not cond:
            raise AssertionError(what)

    def _run_op(self, kind: str, phase: str, body, traced: bool):
        """Run ``body(rec)`` as one checked operation.  ``body`` times
        its own region through ``rec`` and raises on a wrong result."""
        op_id = len(self.ops)
        rec = OpRecord(op_id, kind, 0.0, 0.0, 0.0, traced, phase=phase)
        self.attempted += 1
        self.tracer.enabled = traced
        try:
            body(rec)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            rec.ok = False
            self._fail(f"{phase} {kind} op {op_id}", exc)
        finally:
            self.tracer.enabled = False
            self.tracer.end_op()
        self.ops.append(rec)
        return rec

    def _timed(self, rec: OpRecord, fn):
        with self.tracer.begin_op(rec.op_id, rec.kind):
            rec.start = time.time()
            t0 = time.perf_counter()
            out = fn()
            rec.latency_s = time.perf_counter() - t0
            rec.end = time.time()
        return out

    # -- set-up: corpus + build, repeated ------------------------------------

    def setup(self, docs: int) -> None:
        from pyspark.sql import functions as F

        from invariantbitpacking_spark.functions.hashing import bucket_of
        from invariantbitpacking_spark.plans.pipeline import CompressionPipeline
        from invariantbitpacking_spark.sources import tokens as src

        nb = self.shape.buckets
        corpus_seed = 1_000_003 * self.seed + 17
        for rep in range(SETUP_REPS):
            corpus = os.path.join(self.work, f"corpus-{rep}")
            store = os.path.join(self.work, f"store-{rep}")
            t0 = time.perf_counter()
            src.write_tokens_parquet(corpus, docs, seed=corpus_seed)
            t1 = time.perf_counter()
            if rep == 0:
                self.corpus_docs, self.corpus_tokens = read_corpus(corpus)
            toks = self.spark.read.parquet(corpus)
            pipe = CompressionPipeline(self.spark, store, num_buckets=nb,
                                       wave_buckets=nb)
            before = list_files(store) if self.trace else {}
            res_box = {}

            def ingest(rec, toks=toks, pipe=pipe):
                res_box["r"] = self._timed(rec, lambda: pipe.run(toks, SNAP))
                rec.tokens = self.corpus_tokens
                rec.user_bytes = 4 * self.corpus_tokens

            rec = self._run_op("ingest", "setup", ingest,
                               traced=self.trace and rep > 0)
            self.setup_rep_s.append(time.perf_counter() - t0)
            self.corpus_s.append(t1 - t0)
            if rec.ok and rep > 0:  # the first build is the warm-up
                self.ingest_s.append(rec.latency_s)
                if self.trace:
                    self._note_writes(rec, store, before)
            self._check_ingest(pipe, res_box.get("r"), store,
                               audit=rep == SETUP_REPS - 1)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(store, ignore_errors=True)
                shutil.rmtree(corpus, ignore_errors=True)
            else:
                self.pipe, self.store, self.toks = pipe, store, toks
                self.corpus_path = corpus
        t_model = time.perf_counter()
        self.params = self.pipe.load_or_learn_params(self.toks, SNAP)
        # the build commit: as-of reads at this seq see the built corpus
        self.seq0 = max(r["commit_seq"] for r in lineage_rows(self.store))
        hashes = dict(self.toks.select(
            "doc_id", F.xxhash64("doc_id", "tokens")).collect())
        ids = sorted(self.corpus_docs)
        view = {d: (self.corpus_docs[d], int(hashes[d])) for d in ids}
        self.model = Model(dict(view), dict(view),
                           {d: bucket_of(d, nb) for d in ids}, ids)
        self.deltas = delta_dirs(self.store, nb)
        self.rng = random.Random(7919 * self.seed + 1)
        self.phase_s["setup.model"] = time.perf_counter() - t_model

    def _check_ingest(self, pipe, res, store, audit: bool) -> None:
        """Lineage docs/tokens equal the source; for the build the loop
        serves (``audit``) the checksum audit is clean too — the other
        builds are byte-for-byte the same corpus and code.  Then the
        staging copy goes, and what stays on disk is the store."""

        def check(rec):
            t0 = time.perf_counter()
            self._check(res is not None, "run() raised")
            want = (len(self.corpus_docs), self.corpus_tokens)
            self._check((res.docs, res.tokens) == want,
                        f"run() totals {(res.docs, res.tokens)} != {want}")
            lin = lineage_totals(store)
            self._check(lin == want, f"lineage totals {lin} != {want}")
            if audit:
                bad = pipe.verify_checksums(SNAP)
                self._check(bad == 0, f"verify_checksums() == {bad}")
            pipe.cleanup_staging(SNAP)
            self.stored_bpt.append(dir_bytes(store) / want[1])
            self.phase_s["setup.checks"] = (self.phase_s.get("setup.checks", 0)
                                            + time.perf_counter() - t0)

        self._run_op("ingest-check", "check", check, traced=False)

    # -- trace-only store accounting -----------------------------------------

    def _note_writes(self, rec: OpRecord, store: str, before: dict) -> None:
        after = list_files(store)
        new = {p: s for p, s in after.items() if before.get(p) != s}
        self.writes.append((rec.op_id, sum(new.values()), len(new),
                            rec.user_bytes))
        self._last_new = new

    def _note_compactions(self, rec: OpRecord) -> None:
        nb = self.shape.buckets
        now = delta_dirs(self.store, nb)
        folded = [b for b, n in self.deltas.items() if n > 0
                  and now.get(b, 0) == 0]
        self.deltas = now
        if not folded:
            return
        self.compactions += len(folded)
        fb = set(folded)
        m = self.model
        for d in m.universe:
            if m.bucket[d] in fb:
                if d in m.current:
                    m.as_of[d] = m.current[d]
                else:
                    m.as_of.pop(d, None)
        if self.trace:
            self.compaction_bytes += sum(
                s for p, s in getattr(self, "_last_new", {}).items()
                if f"{os.sep}encoded{os.sep}" in p
                and any(f"bucket={b}{os.sep}" in p for b in fb))

    # -- operations ----------------------------------------------------------

    def op(self, kind: str, phase: str, traced: bool) -> OpRecord:
        return self._run_op(kind, phase,
                            lambda rec: getattr(self, f"_{kind}")(rec),
                            traced)

    def _scan(self, rec: OpRecord) -> None:
        from pyspark.sql import functions as F

        from invariantbitpacking_spark.operators import selector

        def go():
            enc = self.pipe.read_encoded(SNAP)
            return selector.decode_auto(enc, self.params).agg(
                F.count(F.lit(1)), F.sum("n_tok"), F.expr(FOLD)
            ).collect()[0]

        row = self._timed(rec, go)
        got = (int(row[0]), int(row[1] or 0), int(row[2] or 0))
        want = self.model.expect_scan(self.model.current)
        self._check(got == want, f"scan fingerprint {got} != {want}")
        rec.tokens = got[1]

    def _fetch(self, rec: OpRecord) -> None:
        m = self.model
        ids = self.rng.sample(m.universe, self.shape.fetch_ids)
        as_of = self.seq0 if self.rng.random() < AS_OF_SHARE else None
        rows = self._timed(rec, lambda: self.pipe.fetch(
            ids, SNAP, as_of_seq=as_of).collect())
        view = m.as_of if as_of is not None else m.current
        want = {d: view[d][0] for d in ids if d in view}
        got_ids = [r["doc_id"] for r in rows]
        self._check(len(got_ids) == len(set(got_ids)) == len(want)
                    and set(got_ids) == set(want),
                    f"fetch(as_of={as_of}) returned {sorted(got_ids)}, "
                    f"expected {sorted(want)}")
        for r in rows:
            t = np.asarray(r["tokens"], np.int32)
            self._check(r["n_tok"] == t.size
                        and np.array_equal(t, want[r["doc_id"]]),
                        f"fetch(as_of={as_of}) {r['doc_id']}: tokens differ")
        rec.rows = len(rows)

    def _delete(self, rec: OpRecord) -> None:
        victims = self.rng.sample(self.model.live_ids(),
                                  self.shape.delete_ids)
        ids = self.spark.createDataFrame([(v,) for v in victims],
                                         "doc_id string")
        before = list_files(self.store) if self.trace else {}
        self._timed(rec, lambda: self.pipe.delete(ids, SNAP))
        for v in victims:
            self.model.current.pop(v)
        if self.trace:
            self._note_writes(rec, self.store, before)
        self._note_compactions(rec)

    def _append(self, rec: OpRecord) -> None:
        from pyspark.sql import functions as F

        from invariantbitpacking_spark.sources.tokens import (
            generate_tokens_rows)

        m, k = self.model, self.shape.append_docs
        dead = m.dead_ids()
        n_dead = min(len(dead), int(k * RESURRECT_SHARE))
        ids = (self.rng.sample(dead, n_dead)
               + self.rng.sample(m.live_ids(), k - n_dead))
        fresh = generate_tokens_rows(k, seed=self.rng.randrange(1 << 30))
        rows = [(d, r[1].tolist(), int(r[2]), r[3])
                for d, r in zip(ids, fresh)]
        df = self.spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, "
            "source string")
        rec.tokens = sum(r[2] for r in rows)
        rec.user_bytes = 4 * rec.tokens
        before = list_files(self.store) if self.trace else {}
        self._timed(rec, lambda: self.pipe.append(df, SNAP))
        hashes = dict(df.select("doc_id", F.xxhash64("doc_id", "tokens"))
                      .collect())
        for d, r in zip(ids, fresh):
            m.current[d] = (np.asarray(r[1], np.int32), int(hashes[d]))
        if self.trace:
            self._note_writes(rec, self.store, before)
        self._note_compactions(rec)

    # -- phases --------------------------------------------------------------

    def warmup(self) -> None:
        """One untimed fetch and delete.  After the builds the first op
        of these kinds still pays one-off code-path cost (measured:
        delete 1.9 s cold against 0.8 s warm, the first fetch 10-30%
        slower than the rest); the first upsert pays ~15%, too little
        to be worth its 4 s here."""
        for kind in ("fetch", "delete"):
            self.op(kind, "warmup", traced=False)

    def loop(self, seconds: float) -> float:
        """Closed loop: rounds of the shape's op sequence until
        ``seconds`` have passed — the first round always completes, so
        every op kind is measured.  In a traced run every other op of
        each kind runs with spans on; the rest measure the span
        overhead."""
        t0 = time.perf_counter()
        seen: dict = {}
        first = True
        while first or time.perf_counter() - t0 < seconds:
            for kind in self.shape.round:
                if not first and time.perf_counter() - t0 >= seconds:
                    break
                n = seen.get(kind, 0)
                seen[kind] = n + 1
                self.op(kind, "loop", traced=self.trace and n % 2 == 0)
            first = False
        return time.perf_counter() - t0

    def final_checks(self) -> None:
        def audit(rec):
            bad = self.pipe.verify_checksums(SNAP)
            self._check(bad == 0, f"final verify_checksums() == {bad}")

        self._run_op("audit", "check", audit, traced=False)

    # -- end-to-end metrics --------------------------------------------------

    def loop_ops(self, kind: str | None = None) -> list:
        return [o for o in self.ops if o.phase == "loop" and o.ok
                and (kind is None or o.kind == kind)]

    def e2e(self, session_start_s: float, peak_rss_mb: float) -> dict:
        def lat_ms(kind, q):
            xs = [o.latency_s for o in self.loop_ops(kind)]
            return 1e3 * stats.percentile(xs, q) if xs else float("nan")

        scans = [o.tokens / o.latency_s for o in self.loop_ops("scan")]
        point = [o for o in self.loop_ops() if o.kind != "scan"]
        ok = self.attempted - len(self.failures)
        return {
            "setup_s": ("s", session_start_s
                        + stats.median(self.setup_rep_s)),
            "ingest_tok_per_s": ("tok/s", self.corpus_tokens
                                 / stats.median(self.ingest_s)
                                 if self.ingest_s else float("nan")),
            "stored_bytes_per_token": ("B/tok", stats.median(self.stored_bpt)
                                       if self.stored_bpt else float("nan")),
            "scan_tok_per_s": ("tok/s", stats.median(scans)
                               if scans else float("nan")),
            "fetch_p50_ms": ("ms", lat_ms("fetch", 50)),
            "fetch_p90_ms": ("ms", lat_ms("fetch", 90)),
            "delete_p50_ms": ("ms", lat_ms("delete", 50)),
            "append_p50_ms": ("ms", lat_ms("append", 50)),
            "serve_ops_per_s": ("1/s", len(point) / sum(
                o.latency_s for o in point) if point else float("nan")),
            "peak_rss_mb": ("MB", peak_rss_mb),
            "op_success_frac": ("frac", ok / max(self.attempted, 1)),
        }
