"""Self-tests of the benchmark (not of the program under test).

    python3 -m pytest perfbench/test_perfbench.py -q

They build the benchmark corpus and base index once on ``local[2]``
(about a minute) and check that the pool generator is seed-invariant in
shape, that an epoch restore reopens at the base revision, and that the
event-log reader attributes a tagged job to its span.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
os.environ["PYTHONPATH"] = os.pathsep.join(
    [os.path.dirname(HERE), HERE, os.environ.get("PYTHONPATH", "")])

import corpus as C  # noqa: E402
from tracing import EventLog, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.fixture(scope="module")
def built(work):
    spark = C.spark_session(work, 2)
    corpus = os.path.join(work, "corpus")
    C.write_corpus(spark, corpus)
    base = os.path.join(work, "base")
    idx, _ = C.build_base(spark, corpus, base, Tracer())
    oracle, _ = C.collect_oracle(spark, corpus)
    yield spark, corpus, base, idx, oracle
    spark.stop()


def test_pools_same_shapes_for_two_seeds(built):
    oracle = built[4]
    a = C.make_pools(oracle, 1, wand_per_shape=4, parser_n=5, batches=1, batch_size=16)
    b = C.make_pools(oracle, 2, wand_per_shape=4, parser_n=5, batches=1, batch_size=16)
    assert a.shape_counts() == b.shape_counts()
    assert [q.shape for q in a.wand] == [q.shape for q in b.wand]
    assert [len(q.terms) for q in a.wand] == [len(q.terms) for q in b.wand]
    assert [q.strata for q in a.parser] == [q.strata for q in b.parser]
    lo, hi = C.EXPANSIONS
    for q in a.parser + b.parser:
        assert lo <= len(q.groups[2]) <= hi and lo <= len(q.groups[3]) <= hi
    assert [q.terms for q in a.wand] != [q.terms for q in b.wand]


def test_epoch_restore_opens_at_base_revision(built, work):
    from caterpillar_spark.indexing.build import InvertedIndex

    spark, _corpus, base, idx, _ = built
    copy = os.path.join(work, "epoch-test")
    shutil.copytree(base, copy)
    restored = InvertedIndex(spark, copy)
    assert restored.manifest["revision"] == idx.manifest["revision"]
    assert restored.compressed().n_docs == C.BASE_DOCS
    assert restored.docs().count() == C.BASE_DOCS


def test_event_log_attributes_tagged_job(built, work):
    from pyspark.sql import SparkSession

    built[0].stop()
    ev_dir = os.path.join(work, "eventlog")
    spark = C.spark_session(os.path.join(work, "traced"), 2, ev_dir)
    try:
        tracer = Tracer(spark.sparkContext, enabled=True)
        with tracer.span("tagged") as tagged:
            spark.range(10).count()
        with tracer.span("pooled") as pooled:
            # a thread that does not inherit the job group
            t = threading.Thread(target=lambda: spark.range(5).collect())
            t.start()
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        spark.stop()
        assert SparkSession.getActiveSession() is None
    ev = EventLog.from_dir(ev_dir)
    assert ev.attribute(tracer.spans) == 0
    spans_of = {j.span for j in ev.jobs.values()}
    assert tagged.sid in spans_of and pooled.sid in spans_of
    assert all(t.run_ms >= 0 for t in ev.tasks_of(
        j.jid for j in ev.jobs.values() if j.span == tagged.sid))
