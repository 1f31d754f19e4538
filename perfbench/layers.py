"""Per-layer metrics of a traced run.

Three sources, one table:

- spans recorded around the program's public calls (``tracing``);
- Spark's event log, attributed to the benchmark's ops by timestamp;
- probes run after the traffic loop against the same store and corpus:
  operator and function stages into Spark's ``noop`` sink, and the
  codec kernels called in-process on the corpus's Arrow batches.

Each metric names the layer (module) it measures; README.md maps each
one to the end-to-end metric it should move.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import stats, tracing
from .workload import SNAP, list_files

PROBE_REPS = 2
CODECS = ("raw", "ibp", "dict", "rle", "dfor", "for")

# name -> (unit, better); the order here is the order of the report
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "sources.corpus_s": ("s", "lower"),
    "driver.self_s": ("s", "lower"),
    "driver.jobs_per_op": ("count", "lower"),
    "driver.tasks_per_op": ("count", "lower"),
    "plans.learn_s": ("s", "lower"),
    "plans.stage_input_s": ("s", "lower"),
    "plans.resolve_s": ("s", "lower"),
    "plans.fetch_plan_s": ("s", "lower"),
    "plans.fetch_exec_s": ("s", "lower"),
    "plans.fetch_files_read": ("count", "lower"),
    "plans.fetch_hit_ratio": ("frac", "higher"),
    "plans.bytes_written_per_user_byte": ("B/B", "lower"),
    "plans.files_per_commit": ("count", "lower"),
    "plans.delta_files_live": ("count", "lower"),
    "plans.compactions": ("count", "lower"),
    "plans.compaction_bytes_rewritten": ("bytes", "lower"),
    "operators.learn_params_s": ("s", "lower"),
    "operators.encode_auto_tok_per_s": ("tok/s", "higher"),
    "operators.decode_auto_tok_per_s": ("tok/s", "higher"),
    "operators.python_evals": ("count/op", "lower"),
    "operators.passthrough_s": ("s", "lower"),
    "boundary.bytes_to_python": ("bytes/op", "lower"),
    "boundary.bytes_from_python": ("bytes/op", "lower"),
    "boundary.python_run_s": ("s/op", "lower"),
    "boundary.python_start_s": ("s/op", "lower"),
    "codecs.ibp_encode_tok_per_s": ("tok/s", "higher"),
    "codecs.auto_encode_tok_per_s": ("tok/s", "higher"),
    "codecs.ibp_decode_tok_per_s": ("tok/s", "higher"),
    "codecs.fsst_encode_mb_per_s": ("MB/s", "higher"),
    "codecs.fsst_decode_mb_per_s": ("MB/s", "higher"),
    **{f"codecs.codec_mix.{c}": ("count", "lower" if c == "raw" else "higher")
       for c in CODECS},
    **{f"codecs.bytes_per_token.{c}": ("B/tok", "lower") for c in CODECS},
    "functions.fsst_encode_s": ("s", "lower"),
    "functions.fsst_decode_s": ("s", "lower"),
    "spark.executor_run_s": ("s/op", "lower"),
    "spark.executor_cpu_s": ("s/op", "lower"),
    "spark.deserialize_s": ("s/op", "lower"),
    "spark.gc_s": ("s/op", "lower"),
    "spark.shuffle_write_bytes": ("bytes/op", "lower"),
    "spark.spill_bytes": ("bytes/op", "lower"),
    "spark.input_bytes": ("bytes/op", "lower"),
    "spark.result_bytes": ("bytes/op", "lower"),
    "spark.core_util": ("frac", "higher"),
    "trace.overhead_frac": ("frac", "lower"),
    "trace.unattributed_frac": ("frac", "lower"),
    "box.fault_mbps_pre": ("MB/s", "higher"),
    "box.warm_mbps_pre": ("MB/s", "higher"),
    "box.fault_mbps_post": ("MB/s", "higher"),
    "box.warm_mbps_post": ("MB/s", "higher"),
    "box.healthy_wait_s": ("s", "lower"),
}


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else default


def _timed_median(fn, reps: int = PROBE_REPS) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return stats.median(ts)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# probes (after the loop, tracing off)
# ---------------------------------------------------------------------------

def probe_stages(bench) -> dict:
    """Operator and function stages over cached inputs, into the noop
    sink, so each number is the stage itself: no parquet scan, no
    write, no driver collect."""
    from invariantbitpacking_spark.functions import strings
    from invariantbitpacking_spark.operators import selector

    pipe, params = bench.pipe, bench.params
    src = bench.toks.cache()
    src.count()
    enc = pipe.read_encoded(SNAP).cache()
    live_tokens = enc.agg({"n_tok": "sum"}).collect()[0][0] or 0
    table = pipe.load_or_learn_fsst(bench.toks, SNAP)

    def identity(batches):
        yield from batches

    ids = src.select("doc_id", "source")
    # a fresh projection drops the encode tag, so the decode below runs
    # as its own stage instead of fusing with the encode
    ids_enc = strings.encode_string_cols(ids, table).select("*").cache()
    ids_enc.count()
    out = {
        "operators.encode_auto_tok_per_s": bench.corpus_tokens / _timed_median(
            lambda: _noop(selector.encode_auto(src, params))),
        "operators.decode_auto_tok_per_s": live_tokens / _timed_median(
            lambda: _noop(selector.decode_auto(enc, params))),
        "operators.passthrough_s": _timed_median(
            lambda: _noop(src.mapInArrow(identity, src.schema))),
        "functions.fsst_encode_s": _timed_median(
            lambda: _noop(strings.encode_string_cols(ids, table))),
        "functions.fsst_decode_s": _timed_median(
            lambda: _noop(strings.decode_string_cols(ids_enc, table))),
    }
    mix = {r[0]: (int(r[1]), int(r[2]), int(r[3])) for r in enc.groupBy(
        "codec").agg({"*": "count", "comp_bytes": "sum", "n_tok": "sum"})
        .select("codec", "count(1)", "sum(comp_bytes)", "sum(n_tok)")
        .collect()}
    for c in CODECS:
        docs, comp, toks = mix.get(c, (0, 0, 0))
        out[f"codecs.codec_mix.{c}"] = docs
        out[f"codecs.bytes_per_token.{c}"] = comp / toks if toks else 0.0
    for df in (src, enc, ids_enc):
        df.unpersist()
    return out


def _arrow_batches(path: str, batch_rows: int = 4096):
    """The corpus as Arrow record batches of Spark's default Arrow batch
    size, each as (flat uint32 tokens, lens, id+source bytes, lens)."""
    import pyarrow.parquet as pq

    from invariantbitpacking_spark.codecs import fsst

    out = []
    for rb in pq.ParquetFile(f"{path}/part-0.parquet").iter_batches(
            batch_size=batch_rows, columns=["doc_id", "tokens", "source"]):
        toks = rb.column(1)
        flat = toks.values.to_numpy(zero_copy_only=False)
        off = toks.offsets.to_numpy().astype(np.int64)
        flat = flat[off[0]:off[-1]].astype(np.int32).view(np.uint32)
        lens = np.diff(off)
        sflat, slens = fsst.strings_to_flat(
            rb.column(0).to_pylist() + rb.column(2).to_pylist())
        out.append((flat, lens, sflat, slens))
    return out


def probe_codecs(bench) -> dict:
    """Codec kernels called in-process, batch by batch, on the corpus's
    Arrow batches with the store's learned params and FSST table."""
    from invariantbitpacking_spark.codecs import fsst
    from invariantbitpacking_spark.operators import ibp, selector
    from invariantbitpacking_spark.operators.framing import frame_batch_flat

    p = bench.params
    table = bench.pipe.load_or_learn_fsst(bench.toks, SNAP)
    batches = _arrow_batches(bench.corpus_path)
    n_tok = sum(int(b[1].sum()) for b in batches)
    n_str = sum(int(b[3].sum()) for b in batches)

    frames = [frame_batch_flat(f, np.cumsum(ln) - ln, ln, p.vec_size)
              for f, ln, _, _ in batches]

    def ibp_encode():
        return [ibp.encode_batch_flat(fb, p.mask, p.bitval) for fb in frames]

    encoded = ibp_encode()

    def ibp_decode():
        for (_, ln, _, _), (buf, doc_bytes, sizes, flags, flag_nb) in zip(
                batches, encoded):
            ibp.decode_docs_flat(ln, sizes, flags, np.cumsum(flag_nb)
                                 - flag_nb, buf, np.cumsum(doc_bytes)
                                 - doc_bytes, p.mask, p.bitval, p.vec_size)

    def auto_encode():
        for f, ln, _, _ in batches:
            selector.encode_docs_auto_flat(f, ln, p)

    strs = [fsst.encode_strings(sf, sl, table) for _, _, sf, sl in batches]

    def fsst_decode():
        for e, el in strs:
            fsst.decode_strings(e, el, table)

    return {
        "codecs.ibp_encode_tok_per_s": n_tok / _timed_median(ibp_encode),
        "codecs.auto_encode_tok_per_s": n_tok / _timed_median(auto_encode),
        "codecs.ibp_decode_tok_per_s": n_tok / _timed_median(ibp_decode),
        "codecs.fsst_encode_mb_per_s": n_str / 1e6 / _timed_median(
            lambda: [fsst.encode_strings(sf, sl, table)
                     for _, _, sf, sl in batches]),
        "codecs.fsst_decode_mb_per_s": n_str / 1e6 / _timed_median(
            fsst_decode),
    }


# ---------------------------------------------------------------------------
# ledger: spans + event log + store accounting
# ---------------------------------------------------------------------------

def _span_sum(spans, op_id: int, names) -> float:
    return sum(s.end - s.start for s in spans
               if s.op_id == op_id and s.name in names)


def ledger(bench, log: tracing.EventLog, tracer: tracing.Tracer) -> dict:
    spans = tracer.spans
    measured = [o for o in bench.ops if o.ok and o.latency_s > 0
                and (o.phase == "loop"
                     or (o.phase == "setup" and o.traced))]
    traced = [o for o in measured if o.traced]
    roots = {s.op_id: s for s in spans
             if s.parent is None and s.name.startswith("op.")}
    per_op = {o.op_id: tracing.attribute(log, o.start, o.end)
              for o in measured}
    n = max(len(measured), 1)

    def mean(attr):
        return sum(getattr(per_op[o.op_id], attr) for o in measured) / n

    out = {
        "driver.self_s": _med(o.end - o.start - per_op[o.op_id].job_cover_s
                              for o in measured),
        "driver.jobs_per_op": mean("jobs"),
        "driver.tasks_per_op": mean("tasks"),
        "operators.python_evals": mean("python_evals"),
        "boundary.bytes_to_python": mean("py_sent_bytes"),
        "boundary.bytes_from_python": mean("py_returned_bytes"),
        "boundary.python_run_s": mean("py_run_s"),
        "boundary.python_start_s": mean("py_start_s"),
        "spark.executor_run_s": mean("run_s"),
        "spark.executor_cpu_s": mean("cpu_s"),
        "spark.deserialize_s": mean("deserialize_s"),
        "spark.gc_s": mean("gc_s"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.input_bytes": mean("input_bytes"),
        "spark.result_bytes": mean("result_bytes"),
        "spark.core_util": sum(per_op[o.op_id].run_s for o in measured)
        / max(sum(o.end - o.start for o in measured) * bench.cores, 1e-9),
    }

    ingests = [o for o in traced if o.kind == "ingest"]
    out["plans.learn_s"] = _med(_span_sum(spans, o.op_id, {
        "plans.load_or_learn_params", "plans.load_or_learn_fsst"})
        for o in ingests)
    out["plans.stage_input_s"] = _med(
        _span_sum(spans, o.op_id, {"plans.stage_input"}) for o in ingests)
    out["operators.learn_params_s"] = _med(
        _span_sum(spans, o.op_id, {"operators.learn_params"})
        for o in ingests)
    out["plans.resolve_s"] = _med(
        _span_sum(spans, o.op_id, {"plans.read_encoded"})
        for o in traced if o.kind == "scan")
    fetches = [o for o in traced if o.kind == "fetch"]
    plan_s = {o.op_id: _span_sum(spans, o.op_id, {"plans.fetch"})
              for o in fetches}
    out["plans.fetch_plan_s"] = _med(plan_s.values())
    out["plans.fetch_exec_s"] = _med(o.latency_s - plan_s[o.op_id]
                                     for o in fetches)
    all_fetches = [o for o in measured if o.kind == "fetch"]
    out["plans.fetch_files_read"] = (
        sum(per_op[o.op_id].scan_files_read for o in all_fetches)
        / max(len(all_fetches), 1))
    scanned = sum(per_op[o.op_id].scan_rows for o in all_fetches)
    out["plans.fetch_hit_ratio"] = (
        sum(o.rows for o in all_fetches) / scanned if scanned else 0.0)

    written = sum(w[1] for w in bench.writes)
    user = sum(w[3] for w in bench.writes)
    out["plans.bytes_written_per_user_byte"] = written / user if user else 0.0
    out["plans.files_per_commit"] = (sum(w[2] for w in bench.writes)
                                     / max(len(bench.writes), 1))
    out["plans.delta_files_live"] = sum(
        1 for p in list_files(os.path.join(bench.store, "delta"))
        if p.endswith(".parquet"))
    out["plans.compactions"] = bench.compactions
    out["plans.compaction_bytes_rewritten"] = bench.compaction_bytes

    # unattributed: op wall not covered by a child span or a Spark job
    fracs = []
    for o in traced:
        root = roots.get(o.op_id)
        if root is None:
            continue
        iv = [(s.start, s.end) for s in spans if s.parent == root.span_id]
        iv += [(j.submit, j.end or j.submit) for j in log.jobs
               if tracing.in_window(j.submit, o.start, o.end)]
        wall = root.end - root.start
        covered = tracing.union_length(iv, root.start, root.end)
        fracs.append(max(wall - covered, 0.0) / wall if wall > 0 else 0.0)
    out["trace.unattributed_frac"] = _med(fracs)

    # span overhead: traced vs untraced loop ops of the same kind
    ratios = []
    loop = [o for o in measured if o.phase == "loop"]
    for kind in {o.kind for o in loop}:
        on = [o.latency_s for o in loop if o.kind == kind and o.traced]
        off = [o.latency_s for o in loop if o.kind == kind and not o.traced]
        if on and off:
            ratios.append(stats.median(on) / stats.median(off) - 1.0)
    out["trace.overhead_frac"] = _med(ratios)
    return out

