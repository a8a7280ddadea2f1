#!/usr/bin/env python3
"""Repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  The program under test is imported
from ``caterpillar_spark/`` in that checkout and driven in-process on
``local[<cpus>]`` through the public functions the jobs call.  All
scratch files live under ``.bench_work/`` in the checkout and are
removed at exit.  With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer rows,
taken from benchmark-side spans and the Spark event log, and the run
repeats part of its window untraced to price the tracing.  Why each
workload and metric exists: RATIONALE.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SERVE_WAND_PER_SHAPE = 5
# parser work runs in the traced serve run only (see RATIONALE.md, Budget)
SERVE_TRACED_PARSER = dict(parser_n=1, batches=1, batch_size=16)
INGEST_READS_PER_SHAPE = 3  # per append
LAYOUTS = ("postings", "lists", "positions", "forward", "docs", "doc_fields",
           "term_stats", "field_stats")
SELF_LAYERS = ("spark", "sources", "indexing", "streaming", "query.wand",
               "query.parser", "bench")


def percentile_tail(values):
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    p = int(100 * (1 - 10 / n))
    return {"p": p, "value": sorted(values)[int(n * p / 100)], "n": n}


def occupancy_probe(spark, nproc: int) -> float:
    """Median per-task seconds of a fixed 1M-step Python loop run as
    ``nproc`` concurrent tasks (core-seconds per 1M steps)."""

    def burn(_it):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i
        yield time.perf_counter() - t

    return statistics.median(
        spark.sparkContext.parallelize(range(nproc), nproc).mapPartitions(burn).collect())


def job_floor(spark, reps: int = 10) -> float:
    """Median wall of a trivial one-task job."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(1, numPartitions=1).collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def stop_spark(kill_jvm: bool) -> None:
    """Stop the active session; with ``kill_jvm`` also end the gateway
    JVM and wait for it, even when the session could not be stopped."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    finally:
        gw = SparkContext._gateway
        if kill_jvm and gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            finally:
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None


def seconds_of(ops, kind):
    return [op.seconds for op in ops if op.kind == kind and op.error is None]


def setup_phase(args, nproc: int, work: str, traced: bool):
    """Session, corpus, base build, oracle and pools; returns (ctx, facts)."""
    import corpus as C
    from tracing import Tracer
    from workloads import Ctx, warm_serve

    t0 = time.perf_counter()
    facts: dict = {"t_start_ms": time.time() * 1000.0, "setup_steps": {}}
    last = [t0]

    def step(name: str) -> None:
        now = time.perf_counter()
        facts["setup_steps"][name] = now - last[0]
        last[0] = now

    spark = C.spark_session(work, nproc, os.path.join(work, "eventlog") if traced else None)
    step("session")
    tracer = Tracer(spark.sparkContext, enabled=traced)
    tracer.record("spark.session", facts["t_start_ms"], time.time() * 1000.0)
    with tracer.span("sources.synthetic_webtext"):
        corpus = C.cached_corpus(spark, os.path.join(os.path.dirname(work), "cache"))
    step("corpus")
    base = os.path.join(work, "base")
    idx, facts["build_s"] = C.build_base(spark, corpus, base, tracer)
    step("build")
    with tracer.span("bench.oracle"):
        oracle, facts["text_bytes"] = C.collect_oracle(spark, corpus)
        facts["base_frames"] = oracle.con.execute("SELECT count(*) FROM f").fetchone()[0]
    step("oracle")
    with tracer.span("spark.job_floor"):
        facts["job_floor_s"] = job_floor(spark)
    ctx = Ctx(spark, tracer, oracle, corpus, work, base, traced)
    with tracer.span("bench.pools"):
        if args.workload == "serve":
            parser = SERVE_TRACED_PARSER if traced else dict(parser_n=0, batches=0,
                                                              batch_size=0)
            pools = C.make_pools(oracle, args.seed, wand_per_shape=SERVE_WAND_PER_SHAPE,
                                 **parser)
        else:
            pools = C.make_pools(oracle, args.seed,
                                 wand_per_shape=INGEST_READS_PER_SHAPE * C.BATCHES,
                                 parser_n=0, batches=0, batch_size=0)
    step("floor_pools")
    ctx.head_terms = frozenset(pools.head)
    facts["pools"] = pools
    facts["shapes"] = pools.shape_counts()
    facts["layouts"] = {n: C.dir_footprint(os.path.join(base, n)) for n in LAYOUTS}
    facts["base_bytes"] = C.dir_footprint(base)[0]
    facts["spark_conf"] = sorted(
        (k, v) for k, v in spark.sparkContext.getConf().getAll()
        if k.startswith(("spark.sql.", "spark.eventLog.")) or k in (
            "spark.master", "spark.driver.memory", "spark.default.parallelism",
            "spark.driver.extraJavaOptions"))
    if args.workload == "serve":
        with tracer.span("query.wand.open"):
            t = time.perf_counter()
            facts["idx"], facts["handle"] = idx, idx.compressed()
            facts["open_s"] = [time.perf_counter() - t]
        warm_serve(ctx, idx, facts["handle"], pools)
    else:
        warm_ingest(ctx)
    step("open_warm")
    facts["setup_s"] = time.perf_counter() - t0
    return ctx, facts


def warm_ingest(ctx) -> None:
    import corpus as C
    from caterpillar_spark.indexing.build import InvertedIndex
    from caterpillar_spark.query.wand import wand_topk

    with ctx.tracer.span("bench.warm"):
        handle = InvertedIndex(ctx.spark, ctx.base_path).compressed()
        wand_topk(handle, ["spark"], k=C.K).collect()


def window(args, ctx, facts, seconds: float) -> dict:
    from workloads import run_ingest, run_serve

    if args.workload == "serve":
        return run_serve(ctx, facts["idx"], facts["handle"], facts["pools"], seconds)
    return run_ingest(ctx, facts["pools"], seconds, facts["text_bytes"])


def one_shots(ctx, path: str) -> dict:
    """Compact, optimize and delete once each on the last epoch's index
    (traced ingest only; never gated)."""
    import corpus as C
    from caterpillar_spark.indexing.build import InvertedIndex, delete_documents, optimize_index
    from caterpillar_spark.streaming.incremental import compact_statistics

    out = {}
    idx = InvertedIndex(ctx.spark, path)
    with ctx.tracer.span("bench.pick_deletes"):
        ids = [r["doc_id"] for r in idx.docs().orderBy("doc_id").limit(20).collect()]
    with ctx.tracer.span("streaming.compact"):
        t = time.perf_counter()
        compact_statistics(idx)
        out["compact_s"] = time.perf_counter() - t
    out["optimize_files_before"] = C.dir_footprint(path)[1]
    with ctx.tracer.span("indexing.optimize"):
        t = time.perf_counter()
        idx = optimize_index(idx)
        out["optimize_s"] = time.perf_counter() - t
    out["optimize_files_after"] = C.dir_footprint(path)[1]
    with ctx.tracer.span("indexing.delete") as sp:
        t = time.perf_counter()
        delete_documents(idx, ids)
        out["delete_s"] = time.perf_counter() - t
        out["delete_span"] = sp.sid
    out["deleted"] = len(ids)
    return out


def end_to_end(args, ctx, facts, win, peak_rss_mb: float) -> dict:
    if args.workload == "serve":
        ibytes = facts["base_bytes"] / facts["text_bytes"][0]
    else:
        ibytes = statistics.median(win["index_bytes_per_text_byte"])
    return {
        "setup_s": (facts["setup_s"], "s"),
        "index_bytes_per_text_byte": (ibytes, "bytes/byte"),
        "keyword_p50_s": (statistics.median(seconds_of(ctx.ops, "wand")), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def ungated_rows(ctx, facts) -> dict:
    """Throughputs that are too noisy to gate, or that only one workload
    has; printed by every run, in ``info``, and as per-layer rows."""
    import corpus as C

    ops = ctx.ops
    parser, batch = seconds_of(ops, "parser"), seconds_of(ops, "batch")
    appends = [op for op in ops if op.kind == "append" and op.error is None]
    return {
        "indexing.build.docs_per_s": (C.BASE_DOCS / facts["build_s"], "1/s"),
        "query.parser.p50_s": (statistics.median(parser) if parser else 0.0, "s"),
        "query.parser.batch.queries_per_s": (
            sum(len(op.query) for op in ops if op.kind == "batch" and op.error is None)
            / sum(batch) if batch else 0.0, "1/s"),
        "streaming.append.docs_per_s": (
            sum(op.extra["docs"] for op in appends) / sum(op.seconds for op in appends)
            if appends else 0.0, "1/s"),
    }


def tails(ctx) -> dict:
    out = {}
    for kind in ("wand", "parser", "append", "open"):
        t = percentile_tail(seconds_of(ctx.ops, kind))
        if t:
            out[kind] = t
    return out


def per_layer(args, nproc, ctx, facts, win, guard) -> dict:
    from tracing import EventLog, self_ms, union_ms

    stop_spark(kill_jvm=False)  # flushes the event log
    ev = EventLog.from_dir(os.path.join(ctx.work, "eventlog"))
    spans = ctx.tracer.spans
    unattributed = ev.attribute(spans)
    facts["unattributed"] = [(j.jid, round(j.submit_ms - facts["t_start_ms"]))
                             for j in ev.jobs.values() if j.span is None][:10]
    span_jobs: dict = {}
    for job in ev.jobs.values():
        span_jobs.setdefault(job.span, []).append(job)

    def agg(span_list):
        jobs = [j for sp in span_list for j in span_jobs.get(sp.sid, [])]
        tasks = ev.tasks_of(j.jid for j in jobs)
        return {
            "jobs": len(jobs), "tasks": len(tasks),
            "run_s": sum(t.run_ms for t in tasks) / 1000.0,
            "shuffle_write": sum(t.shuffle_write for t in tasks),
            "spill": sum(t.spill for t in tasks),
            "input": sum(t.input_bytes for t in tasks),
            "output": sum(t.output_bytes for t in tasks),
            "driver_s": sum(sp.dur_ms - union_ms(
                (t.launch_ms, t.finish_ms) for t in ev.tasks_of(
                    j.jid for j in span_jobs.get(sp.sid, [])))
                for sp in span_list) / 1000.0,
            "jobs_list": jobs, "tasks_list": tasks,
        }

    lo, hi = facts["t_window_ms"], facts["t_window_end_ms"]

    def named(name, timed_only=False):
        return [sp for sp in spans if sp.name == name
                and (not timed_only or lo <= sp.start_ms <= hi)]

    rows: dict = {}
    rows["spark.job_floor_s"] = (facts["job_floor_s"], "s")

    build_spans = named("indexing.build")
    b = agg(build_spans)
    fr_tasks = [t for t in b["tasks_list"]
                if any("MapInPandas" in s or "MapInArrow" in s
                       for s in ev.stage_scopes.get(t.stage, ()))]
    rows["framing.s"] = (union_ms((t.launch_ms, t.finish_ms) for t in fr_tasks) / 1000.0, "s")
    rows["framing.rows"] = (facts["base_frames"], "count")
    rows["framing.executor_run_s"] = (sum(t.run_ms for t in fr_tasks) / 1000.0, "s")
    rows["indexing.build.s"] = (facts["build_s"], "s")
    for key, unit in (("jobs", "count"), ("tasks", "count"), ("run_s", "s"),
                      ("shuffle_write", "bytes"), ("spill", "bytes"), ("output", "bytes")):
        name = {"run_s": "executor_run_s", "shuffle_write": "shuffle_write_bytes",
                "spill": "spill_bytes", "output": "output_bytes"}.get(key, key)
        rows[f"indexing.build.{name}"] = (b[key], unit)

    layouts = facts["layouts"]
    if args.workload == "ingest" and win.get("last_epoch"):
        layouts = facts["final_layouts"]
    layout_run = {n: 0.0 for n in LAYOUTS}
    for j in b["jobs_list"]:
        name = ev.layout_of(j)
        if name in layout_run:
            layout_run[name] += sum(t.run_ms for t in ev.tasks_of([j.jid])) / 1000.0
    for n in LAYOUTS:
        nbytes, nfiles = layouts.get(n, (0, 0))
        rows[f"indexing.layout.{n}.bytes"] = (nbytes, "bytes")
        rows[f"indexing.layout.{n}.files"] = (nfiles, "count")
        rows[f"indexing.layout.{n}.executor_run_s"] = (layout_run[n], "s")

    app_spans = named("streaming.append", timed_only=True)
    a = agg(app_spans)
    n_app = max(1, len(app_spans))
    app_ops = [op for op in ctx.ops if op.kind == "append" and op.error is None]
    docs = sum(op.extra["docs"] for op in app_ops)
    rows["streaming.append.s"] = (
        statistics.median([op.seconds for op in app_ops]) if app_ops else 0.0, "s")
    rows["streaming.append.jobs"] = (a["jobs"] / n_app, "count")
    rows["streaming.append.tasks"] = (a["tasks"] / n_app, "count")
    rows["streaming.append.executor_run_s"] = (a["run_s"] / n_app, "s")
    rows["streaming.append.shuffle_write_bytes"] = (a["shuffle_write"] / n_app, "bytes")
    rows["streaming.append.output_bytes_per_doc"] = (a["output"] / docs if docs else 0.0, "bytes")
    fa = win.get("files_added") or []
    rows["streaming.append.files_added"] = (statistics.median(fa) if fa else 0, "count")

    for layer, span_name, unit_name in (("query.wand", "query.wand", "query"),
                                        ("query.parser", "query.parser", "query")):
        sl = named(span_name, timed_only=True)
        q = agg(sl)
        n = max(1, len(sl))
        for key, name, unit in (("jobs", "jobs", "count"), ("tasks", "tasks", "count"),
                                ("input", "input_bytes", "bytes"),
                                ("run_s", "executor_run_s", "s"), ("driver_s", "driver_s", "s")):
            rows[f"{layer}.{name}_per_{unit_name}"] = (q[key] / n, unit)
    sl = named("query.parser.batch", timed_only=True)
    q = agg(sl)
    n = max(1, len(sl))
    rows["query.parser.batch.jobs_per_batch"] = (q["jobs"] / n, "count")
    rows["query.parser.batch.executor_run_s_per_batch"] = (q["run_s"] / n, "s")
    rows["query.parser.batch.driver_s_per_batch"] = (q["driver_s"] / n, "s")

    skipped = sum(op.extra.get("blocks_skipped", 0) for op in ctx.ops if op.kind == "wand")
    scored = sum(op.extra.get("blocks_scored", 0) for op in ctx.ops if op.kind == "wand")
    rows["query.wand.skip_ratio"] = (skipped / (skipped + scored) if skipped + scored else 0.0,
                                     "ratio")
    opens = seconds_of(ctx.ops, "open") or facts.get("open_s", [0.0])
    rows["query.wand.handle_open_s"] = (statistics.median(opens), "s")

    one = facts.get("one_shots", {})
    rows["indexing.delete.s"] = (one.get("delete_s", 0.0), "s")
    if one:
        d = agg([sp for sp in spans if sp.sid == one["delete_span"]])
        rows["indexing.delete.bytes_rewritten_per_deleted_doc"] = (
            d["output"] / one["deleted"], "bytes")
    else:
        rows["indexing.delete.bytes_rewritten_per_deleted_doc"] = (0.0, "bytes")
    rows["indexing.optimize.s"] = (one.get("optimize_s", 0.0), "s")
    rows["indexing.optimize.files_before"] = (one.get("optimize_files_before", 0), "count")
    rows["indexing.optimize.files_after"] = (one.get("optimize_files_after", 0), "count")
    rows["streaming.compact.s"] = (one.get("compact_s", 0.0), "s")

    rows["query_stream.repeat_term_share"] = (
        ctx.repeat_slots / ctx.term_slots if ctx.term_slots else 0.0, "ratio")
    rows["query_stream.head_term_share"] = (
        ctx.head_slots / ctx.term_slots if ctx.term_slots else 0.0, "ratio")
    rows["guard.steal_share"] = (guard["steal_share"], "ratio")
    rows["guard.occupancy_core_s"] = (guard["occupancy_core_s"], "s")
    rows["guard.nproc"] = (nproc, "count")

    top = [sp for sp in spans if sp.parent is None]
    wall_ms = facts["t_end_ms"] - facts["t_start_ms"]
    rows["trace.span_share"] = (sum(sp.dur_ms for sp in top) / wall_ms, "ratio")
    rows["trace.unattributed_jobs"] = (unattributed, "count")
    selfs = {layer: 0.0 for layer in SELF_LAYERS}
    for sp in spans:
        layer = next((lay for lay in sorted(SELF_LAYERS, key=len, reverse=True)
                      if sp.name == lay or sp.name.startswith(lay + ".")), "bench")
        selfs[layer] += self_ms(sp, spans) / 1000.0
    for layer in SELF_LAYERS:
        rows[f"layer.{layer}.self_s"] = (selfs[layer], "s")
    rows.update(ungated_rows(ctx, facts))
    by_name: dict = {}
    for sp in top:
        by_name[sp.name] = by_name.get(sp.name, 0.0) + sp.dur_ms / 1000.0
    facts["span_s"] = by_name
    return rows


def execute(args, nproc: int, work: str, sampler) -> dict:
    import guards
    from workloads import check

    traced = bool(args.trace)
    cpu0 = guards.cpu_times()
    ctx, facts = setup_phase(args, nproc, work, traced)
    facts["t_window_ms"] = time.time() * 1000.0
    win = window(args, ctx, facts, args.seconds)
    facts["t_window_end_ms"] = time.time() * 1000.0
    with ctx.tracer.span("spark.occupancy"):
        guard = {"occupancy_core_s": occupancy_probe(ctx.spark, nproc)}
    if traced and args.workload == "ingest":
        import corpus as C

        facts["final_layouts"] = {n: C.dir_footprint(os.path.join(win["last_epoch"], n))
                                  for n in LAYOUTS}
        facts["one_shots"] = one_shots(ctx, win["last_epoch"])
    failed = check(ctx)
    attempted = len(ctx.ops)
    if traced:
        facts["t_end_ms"] = time.time() * 1000.0
        guard["steal_share"] = guards.steal_share(cpu0, guards.cpu_times())
        traced_ops = list(ctx.ops)
        rows = per_layer(args, nproc, ctx, facts, win, guard)
        untraced = untraced_phase(args, nproc, work, ctx, facts)
        failed += check(untraced)
        attempted += len(untraced.ops)
        # the same operations on both sides: serve's WAND reads, ingest's
        # epoch (append, handle open, reads)
        if args.workload == "serve":
            same = [op for op in traced_ops if op.kind == "wand"]
        else:
            same = [op for op in traced_ops if op.live == 1]
        rounds = win.get("cycles", win.get("epochs", 1))
        per_t = sum(op.seconds for op in same) / rounds
        per_u = sum(op.seconds for op in untraced.ops)
        rows["trace.overhead_share"] = (per_t / per_u - 1.0, "ratio")
        metrics = rows
    else:
        guard["steal_share"] = guards.steal_share(cpu0, guards.cpu_times())
        metrics = end_to_end(args, ctx, facts, win, sampler.stop())
        guard["rss_peaks_mb"] = {k: v / 1024.0 for k, v in sampler.peaks.items()}
    info = {
        "seed": args.seed, "workload": args.workload, "nproc": nproc, "trace": traced,
        "window_s": win["window_s"], "rounds": win.get("cycles", win.get("epochs")),
        "samples": {k: len(seconds_of(ctx.ops, k)) for k in ("wand", "parser", "batch", "append")},
        "tails": tails(ctx), "shapes": facts["shapes"], "span_s": facts.get("span_s"),
        "unattributed": facts.get("unattributed"),
        "spans": ctx.tracer.records() if traced else None,
        "job_floor_s": facts["job_floor_s"], "guard": guard,
        "setup_steps": facts["setup_steps"],
        "spark_conf": facts["spark_conf"],
        "ungated": {k: v for k, (v, _u) in ungated_rows(ctx, facts).items()},
        "failures": [f"{op.kind}: {op.error or 'mismatch'}" for op in ctx.ops
                     if not op.extra.get("ok", True)][:5],
        "rss_peaks_mb": guard.pop("rss_peaks_mb", None),
    }
    print(json.dumps({"info": info}), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def untraced_phase(args, nproc, work, ctx, facts):
    """The traced window's operations again, without spans or event log,
    in a fresh session: serve repeats its WAND reads, ingest one epoch."""
    import corpus as C
    from caterpillar_spark.indexing.build import InvertedIndex
    from tracing import Tracer
    from workloads import Ctx, run_ingest, wand_op

    spark = C.spark_session(work, nproc, None)
    ctx2 = Ctx(spark, Tracer(), ctx.oracle, ctx.corpus, os.path.join(work, "untraced"),
               ctx.base_path, False)
    os.makedirs(ctx2.work, exist_ok=True)
    pools = facts["pools"]
    if args.workload == "serve":
        from caterpillar_spark.query.wand import wand_topk

        handle = InvertedIndex(spark, ctx.base_path).compressed()
        wand_topk(handle, sorted({t for q in pools.wand for t in q.terms}), k=C.K).collect()
        avgdl = ctx.oracle.doc_avgdl()
        for q in pools.wand:
            wand_op(ctx2, handle, q, 0, avgdl)
    else:
        warm_ingest(ctx2)
        run_ingest(ctx2, pools, 0.0, facts["text_bytes"])
    return ctx2


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "caterpillar_spark", "__init__.py")):
        print(f"perfbench: no caterpillar_spark/ package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import guards

    # SIGTERM -> SystemExit, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sampler = guards.RssSampler().start()
    result, code = None, 1
    try:
        result = execute(args, nproc, work, sampler)
        code = 0
    except Exception:
        traceback.print_exc()
    finally:
        started = guards.descendants(os.getpid())
        try:
            stop_spark(kill_jvm=True)
        except Exception:
            traceback.print_exc()
            code = 1
        sampler.stop()
        left = guards.reap(started)
        if left:
            print(f"perfbench: processes still alive: {sorted(left)}", file=sys.stderr)
            code = 1
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if code == 0:
        print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
