"""The two closed-loop workloads (one client thread, no think time).

``serve``: one long-lived handle over the base index, every query kind
warmed once and the statistics memos primed for the whole pool; the
timed window repeats one fixed cycle over the pool, so every timed query
reads warm per-handle statistics.

``ingest``: epochs.  Each epoch restores an untimed copy of the base
index into a new directory, appends the fixed batches one by one, and
after each append opens a fresh handle and runs its share of the WAND
pool; every read is on the cold-memo path a revision bump forces.

Results are kept with the state they were computed against and checked
against the oracle after the timed window.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import corpus as C
from oracle import matches, top_k


@dataclass
class Op:
    kind: str  # wand | parser | batch | append | open
    seconds: float
    query: object = None
    rows: object = None
    error: Optional[str] = None
    live: int = 0  # slices live when the op ran
    avgdl: Optional[float] = None
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    tracer: object
    oracle: object
    corpus: str
    work: str
    base_path: str
    trace: bool
    ops: List[Op] = field(default_factory=list)
    seen_terms: set = field(default_factory=set)
    term_slots: int = 0
    repeat_slots: int = 0
    head_slots: int = 0
    head_terms: frozenset = frozenset()

    def note_terms(self, terms) -> None:
        for t in terms:
            self.term_slots += 1
            self.repeat_slots += t in self.seen_terms
            self.head_slots += t in self.head_terms
        self.seen_terms.update(terms)


def _timed(ctx: Ctx, kind: str, span_name: str, fn, **fields) -> Op:
    op = Op(kind, 0.0, **fields)
    with ctx.tracer.span(span_name, op=len(ctx.ops)):
        t0 = time.perf_counter()
        try:
            op.rows = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            op.error = f"{type(exc).__name__}: {exc}"
        op.seconds = time.perf_counter() - t0
    ctx.ops.append(op)
    return op


def wand_op(ctx: Ctx, handle, q, live: int, avgdl: float) -> Op:
    from caterpillar_spark.query.wand import wand_topk

    metrics: Optional[dict] = {} if ctx.trace else None
    ctx.note_terms(q.terms)
    op = _timed(ctx, "wand", "query.wand", lambda: wand_topk(
        handle, list(q.terms), k=C.K, mode=q.mode, must_not=list(q.must_not),
        metrics=metrics).collect(), query=q, live=live, avgdl=avgdl)
    if metrics:
        op.extra = {k: acc.value for k, acc in metrics.items()}
    return op


def _parser_terms(q) -> List[str]:
    return sorted({t for g in q.groups for t in g})


def parser_op(ctx: Ctx, idx, q) -> Op:
    from caterpillar_spark.query.parser import execute_query

    ctx.note_terms(_parser_terms(q))
    return _timed(ctx, "parser", "query.parser", lambda: execute_query(
        idx, q.text, k=C.K, scorer="bm25").collect(), query=q)


def batch_op(ctx: Ctx, idx, batch: Dict[str, object]) -> Op:
    from caterpillar_spark.query.parser import execute_many

    for q in batch.values():
        ctx.note_terms(_parser_terms(q))
    return _timed(ctx, "batch", "query.parser.batch", lambda: execute_many(
        idx, {qid: q.text for qid, q in batch.items()}, k=C.K, scorer="bm25").collect(),
        query=batch)


def serve_cycle(pools) -> List[tuple]:
    """One fixed cycle: the WAND pool with a parser query after every
    ``len(wand) // len(parser)`` reads, then the batches."""
    step = max(1, len(pools.wand) // max(1, len(pools.parser)))
    order: List[tuple] = []
    parser = list(pools.parser)
    for i, q in enumerate(pools.wand):
        order.append(("wand", q))
        if (i + 1) % step == 0 and parser:
            order.append(("parser", parser.pop(0)))
    order += [("parser", q) for q in parser]
    order += [("batch", b) for b in pools.batches]
    return order


def warm_serve(ctx: Ctx, idx, handle, pools) -> None:
    """Warm every query kind once, untimed: one WAND read over every WAND
    pool term, then each parser query and batch of the pool, which also
    primes the per-handle statistics memos with every pool term."""
    from caterpillar_spark.query.parser import execute_many, execute_query
    from caterpillar_spark.query.wand import wand_topk

    with ctx.tracer.span("bench.warm"):
        wand_terms = sorted({t for q in pools.wand for t in q.terms})
        wand_topk(handle, wand_terms, k=C.K).collect()
        for q in pools.parser:
            execute_query(idx, q.text, k=C.K, scorer="bm25").collect()
        for batch in pools.batches:
            execute_many(idx, {qid: q.text for qid, q in batch.items()},
                         k=C.K, scorer="bm25").collect()
    ctx.seen_terms.update(wand_terms)
    for q in pools.parser + [q for b in pools.batches for q in b.values()]:
        ctx.seen_terms.update(_parser_terms(q))


def run_serve(ctx: Ctx, idx, handle, pools, seconds: float) -> dict:
    avgdl = ctx.oracle.doc_avgdl()
    order = serve_cycle(pools)
    t0 = time.perf_counter()
    cycles = 0
    while cycles < 1 or time.perf_counter() - t0 < seconds:
        for kind, q in order:
            if kind == "wand":
                wand_op(ctx, handle, q, 0, avgdl)
            elif kind == "parser":
                parser_op(ctx, idx, q)
            else:
                batch_op(ctx, idx, q)
        cycles += 1
    return {"window_s": time.perf_counter() - t0, "cycles": cycles}


def run_ingest(ctx: Ctx, pools, seconds: float, text_bytes: Dict[int, int]) -> dict:
    from caterpillar_spark.indexing.build import InvertedIndex

    avgdl = ctx.oracle.doc_avgdl()  # frozen at the base build
    per_append = len(pools.wand) // C.BATCHES
    t0 = time.perf_counter()
    epochs, prev, footprints, files_added = 0, None, [], []
    all_text = sum(text_bytes[s] for s in range(C.BATCHES + 1))
    while epochs < 1 or time.perf_counter() - t0 < seconds:
        path = os.path.join(ctx.work, f"epoch-{epochs}")
        with ctx.tracer.span("bench.restore"):
            shutil.copytree(ctx.base_path, path)
            if prev:
                shutil.rmtree(prev)
        ctx.seen_terms = set()
        for s in range(1, C.BATCHES + 1):
            before = C.dir_footprint(path)[1]
            op = _timed(ctx, "append", "streaming.append",
                        lambda: C.append_slice(ctx.spark, ctx.corpus, s, path), live=s)
            op.extra["docs"] = C.BATCH_DOCS
            files_added.append(C.dir_footprint(path)[1] - before)
            opened = _timed(ctx, "open", "query.wand.open",
                            lambda: InvertedIndex(ctx.spark, path).compressed(), live=s)
            handle = opened.rows
            ctx.seen_terms = set()  # a fresh handle has an empty memo
            for q in pools.wand[(s - 1) * per_append:s * per_append]:
                if handle is None:
                    ctx.ops.append(Op("wand", 0.0, query=q, error="handle open failed", live=s))
                    continue
                wand_op(ctx, handle, q, s, avgdl)
        footprints.append(C.dir_footprint(path)[0] / all_text)
        prev = path
        epochs += 1
    return {"window_s": time.perf_counter() - t0, "epochs": epochs,
            "index_bytes_per_text_byte": footprints, "files_added": files_added,
            "last_epoch": prev}


def check(ctx: Ctx) -> int:
    """Compare every recorded result with the oracle; returns failures."""
    failed = 0
    by_live: Dict[int, List[Op]] = {}
    for op in ctx.ops:
        by_live.setdefault(op.live, []).append(op)
    with ctx.tracer.span("bench.check"):
        for live in sorted(by_live):
            ctx.oracle.set_live(live)
            for op in by_live[live]:
                ok = op.error is None and _correct(ctx.oracle, op)
                op.extra["ok"] = ok
                failed += not ok
        ctx.oracle.set_live(0)
    return failed


def _correct(oracle, op: Op) -> bool:
    if op.kind in ("append", "open"):
        return op.rows is not None
    q = op.query
    if op.kind == "batch":
        by_q: Dict[str, list] = {qid: [] for qid in q}
        for r in op.rows:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return len(by_q) == len(q) and all(
            _agrees(op, sorted(by_q[qid], key=lambda x: (-x[1], x[0])),
                    oracle.frame_bm25(bq.groups), bq.text)
            for qid, bq in q.items())
    got = [(r["doc_id"], r["score"]) for r in op.rows]
    if op.kind == "wand":
        want = oracle.wand(q.terms, q.mode, q.must_not, avgdl=op.avgdl)
        return _agrees(op, got, want, q.terms)
    want = oracle.frame_bm25(q.groups, q.lang, [q.phrase] if q.phrase else [])
    return _agrees(op, got, want, q.text)


def _agrees(op: Op, got, want, label) -> bool:
    """``matches``, recording where a mismatch starts on the op."""
    if matches(got, want, C.K):
        return True
    w = top_k(want, C.K)
    i = next((i for i in range(min(len(got), len(w))) if got[i] != w[i]), 0)
    op.error = (f"{label!r}: {len(got)} rows, {len(w)} expected; from rank {i} "
                f"got {got[i:i + 3]}, expected {w[i:i + 3]}")
    return False
