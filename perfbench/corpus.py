"""Set-up shared by both workloads: the Spark session, the corpus, the
base index build, the oracle collection and the seeded query pools.

The corpus is one ``synthetic_webtext(CORPUS_DOCS, CORPUS_SEED)`` call
split by document ordinal: slice 0 (the first ``BASE_DOCS`` pages) is
the base index of both workloads, slices 1..``BATCHES`` are the
equal-size batches the ``ingest`` workload appends.  The corpus seed is
fixed, so every run indexes the same documents; ``--seed`` only picks
which terms fill the query slots.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

CORPUS_SEED = 42
BASE_DOCS = 1600
BATCH_DOCS = 200
BATCHES = 1
CORPUS_DOCS = BASE_DOCS + BATCHES * BATCH_DOCS

# the jobs' index defaults (jobs/build_index_job.py)
NUM_BUCKETS = 32
BLOCK_BITS = 6
CHECKPOINT_GROUPS = 4
K = 10

# document-frequency rank strata of the query pools
HEAD = (0, 30)
MID = (30, 300)
TAIL = (300, 1000)
EXPANSIONS = (3, 5)  # inclusive range of x* / x~1 variant counts


def spark_session(work: str, nproc: int, event_dir: Optional[str] = None):
    """``local[nproc]`` with the build job's ``--cores`` settings; all
    scratch space inside ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{nproc}]")
        .config("spark.sql.shuffle.partitions", str(nproc * 2))
        .config("spark.default.parallelism", str(nproc))
        # the build job's 24g default is sized for multi-million-doc
        # corpora; this corpus fits a small heap on a shared box
        .config("spark.driver.memory", "2g")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a pre-touched fixed heap keeps the JVM's resident size independent
        # of GC timing, so peak memory tracks what the workload allocates
        # outside the heap and in the Python workers
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch")
    )
    if not event_dir:
        # an earlier session in this JVM may have set it on the launch conf
        b = b.config("spark.eventLog.enabled", "false")
    else:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def write_corpus(spark, path: str) -> None:
    from pyspark.sql import functions as F

    from caterpillar_spark.sources import synthetic_webtext

    ordinal = F.regexp_extract("url", r"/page/([0-9]+)$", 1).cast("int")
    (
        synthetic_webtext(spark, CORPUS_DOCS, seed=CORPUS_SEED)
        .withColumn("slice", F.when(ordinal < BASE_DOCS, 0).otherwise(
            1 + F.floor((ordinal - BASE_DOCS) / BATCH_DOCS)).cast("int"))
        .write.partitionBy("slice").parquet(path)
    )


def _digest(paths) -> str:
    h = hashlib.sha1()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _cached(path: str, write) -> str:
    """``path``, made by ``write(tmp)`` on first use.  Written under a
    temporary name and renamed into place, so a killed run leaves no
    partial entry."""
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # another run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def cached_corpus(spark, cache_root: str) -> str:
    """The corpus, generated once per checkout and reused by later runs.
    It is input data, fixed by ``CORPUS_SEED`` and the sizes above; the
    key hashes the generator's source, so changing it regenerates."""
    import caterpillar_spark.sources.webtext as gen

    key = f"corpus-{CORPUS_SEED}-{BASE_DOCS}-{BATCH_DOCS}x{BATCHES}-{_digest([gen.__file__])}"
    return _cached(os.path.join(cache_root, key), lambda tmp: write_corpus(spark, tmp))


def slice_path(corpus: str, s: int) -> str:
    return os.path.join(corpus, f"slice={s}")


def build_base(spark, corpus: str, path: str, tracer):
    """The build job's timed region: ingest -> frames -> build_index.
    Returns (index, seconds)."""
    from caterpillar_spark.framing import build_frames
    from caterpillar_spark.indexing.build import build_index
    from caterpillar_spark.sources import ingest_webtext

    with tracer.span("bench.scan_warm"):
        # as the build job does: warm the scan and the Python UDF
        # workers, so the timed region measures steady-state building
        web = spark.read.parquet(slice_path(corpus, 0))
        web.count()
        par = spark.sparkContext.defaultParallelism * 2
        spark.range(par * 4, numPartitions=par).mapInPandas(lambda it: it, "id long").count()
    with tracer.span("indexing.build"):
        t0 = time.perf_counter()
        docs = ingest_webtext(web).repartition(spark.sparkContext.defaultParallelism * 4)
        frames = build_frames(docs, text_cols=["text"], metadata_cols=["lang"])
        idx = build_index(
            frames, path, num_buckets=NUM_BUCKETS, block_bits=BLOCK_BITS,
            checkpoint_groups=CHECKPOINT_GROUPS, source=slice_path(corpus, 0),
        )
        return idx, time.perf_counter() - t0


def append_slice(spark, corpus: str, s: int, path: str):
    """The streaming job's per-batch step: ingest -> frames -> append."""
    from caterpillar_spark.framing import build_frames
    from caterpillar_spark.sources import ingest_webtext
    from caterpillar_spark.streaming.incremental import append_batch

    frames = build_frames(
        ingest_webtext(spark.read.parquet(slice_path(corpus, s))),
        metadata_cols=["lang"],
    )
    return append_batch(frames, path, num_buckets=NUM_BUCKETS,
                        block_bits=BLOCK_BITS, batch_id=s)


def collect_oracle(spark, corpus: str):
    """The oracle's input, cached next to the corpus: the analysed corpus
    straight from the framing layer, keyed by the framing and analysis
    sources.  Returns (Oracle, text bytes per slice)."""
    import glob

    import pyarrow.parquet as pq

    import caterpillar_spark.framing as framing
    from oracle import Oracle

    pkg = os.path.dirname(framing.__file__)
    sources = [framing.__file__] + glob.glob(os.path.join(pkg, "analysis", "*.py"))
    path = _cached(f"{corpus}.oracle-{_digest(sources)}",
                   lambda tmp: _write_oracle_input(spark, corpus, tmp))
    tables = {n: pq.read_table(os.path.join(path, f"{n}.parquet"))
              for n in ("postings", "frames", "slices")}
    with open(os.path.join(path, "text_bytes.json")) as fh:
        text_bytes = {int(k): v for k, v in json.load(fh).items()}
    return Oracle(tables["postings"], tables["frames"], tables["slices"]), text_bytes


def _write_oracle_input(spark, corpus: str, out: str) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from caterpillar_spark.framing import build_frames, frames_to_postings, with_doc_id
    from caterpillar_spark.sources import ingest_webtext

    web = spark.read.parquet(corpus)
    frames = build_frames(ingest_webtext(web), metadata_cols=["lang"]).persist()
    try:
        postings = frames_to_postings(frames).select(
            "doc_id", "frame_seq", "frame_tokens", "lang", "term", "freq", "positions"
        ).toArrow()
        frame_lens = frames.select("doc_id", "frame_seq", "frame_tokens").toArrow()
    finally:
        frames.unpersist()
    os.makedirs(out)
    pq.write_table(postings, os.path.join(out, "postings.parquet"))
    pq.write_table(frame_lens, os.path.join(out, "frames.parquet"))
    pq.write_table(with_doc_id(web, "url").select("doc_id", "slice").toArrow(),
                   os.path.join(out, "slices.parquet"))
    text_bytes = {
        r["slice"]: int(r["b"])
        for r in web.groupBy("slice").agg(F.sum(F.octet_length("text")).alias("b")).collect()
    }
    with open(os.path.join(out, "text_bytes.json"), "w") as fh:
        json.dump(text_bytes, fh)


def dir_footprint(path: str) -> Tuple[int, int]:
    """(bytes, files) under ``path``."""
    nbytes = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return nbytes, files


# -- seeded query pools ---------------------------------------------------

# (name, mode, positive strata, must_not strata)
WAND_SHAPES = (
    ("or1", "or", ("head",), ()),
    ("or2", "or", ("mid", "tail"), ()),
    ("or3", "or", ("head", "mid", "tail"), ()),
    ("and", "and", ("head", "mid"), ()),
    ("not", "or", ("mid", "tail"), ("head",)),
)
PARSER_TEMPLATE = '{head} {mid} {prefix}* {fuzzy}~1 "{a} {b}" lang:en'
BATCH_TEMPLATE = "{mid} {tail} {prefix}*"
_WORD = re.compile(r"^[a-z][a-z0-9]*$")


@dataclass
class WandQuery:
    shape: str
    mode: str
    terms: Tuple[str, ...]
    must_not: Tuple[str, ...] = ()
    strata: Tuple[str, ...] = ()


@dataclass
class ParserQuery:
    text: str
    groups: List[List[str]]  # the oracle's expansion of each term clause
    phrase: Optional[Tuple[str, str]]
    lang: Optional[str]
    strata: Tuple[str, ...] = ()


@dataclass
class Pools:
    wand: List[WandQuery] = field(default_factory=list)
    parser: List[ParserQuery] = field(default_factory=list)
    batches: List[Dict[str, ParserQuery]] = field(default_factory=list)
    head: Tuple[str, ...] = ()

    def shape_counts(self) -> Dict[str, int]:
        counts: Dict[str, int] = {}
        for q in self.wand:
            key = f"wand.{q.shape}." + "+".join(q.strata)
            counts[key] = counts.get(key, 0) + 1
        for q in self.parser:
            key = "parser." + "+".join(q.strata)
            counts[key] = counts.get(key, 0) + 1
        for batch in self.batches:
            for q in batch.values():
                key = "batch." + "+".join(q.strata)
                counts[key] = counts.get(key, 0) + 1
        return counts


def _one_edit(term: str, alphabet: str) -> set:
    out = set()
    for i in range(len(term) + 1):
        for c in alphabet:
            out.add(term[:i] + c + term[i:])
        if i < len(term):
            out.add(term[:i] + term[i + 1:])
            for c in alphabet:
                out.add(term[:i] + c + term[i + 1:])
    return out


class PoolMaker:
    """Stratified slots filled from a seeded RNG: every seed yields the
    same shapes and per-stratum slot counts; only the terms differ."""

    def __init__(self, oracle, seed: int):
        self.oracle = oracle
        self.rng = random.Random(seed)
        # expansions run over the whole vocabulary; slots take plain words
        self.vocab = [t for t, _df, _ff in oracle.vocabulary()]
        vocab = [t for t in self.vocab if _WORD.match(t)]
        self.strata = {
            "head": vocab[HEAD[0]:HEAD[1]],
            "mid": vocab[MID[0]:MID[1]],
            "tail": vocab[TAIL[0]:TAIL[1]],
        }
        vset = set(self.vocab)
        alphabet = "".join(sorted({c for t in self.vocab for c in t}))
        prefixes: Dict[str, int] = {}
        for t in self.vocab:
            for n in range(4, len(t) + 1):
                prefixes[t[:n]] = prefixes.get(t[:n], 0) + 1
        lo, hi = EXPANSIONS
        self.prefixes = sorted(p for p, n in prefixes.items()
                               if lo <= n <= hi and _WORD.match(p))
        self._fuzzy_pool = vocab[MID[0]:TAIL[1]]
        self._ball = lambda t: len((_one_edit(t, alphabet) | {t}) & vset)
        self.bigrams = [(a, b) for a, b, _n in oracle.bigrams()
                        if _WORD.match(a) and _WORD.match(b) and a != b][MID[0]:MID[1]]
        self.used: set = set()

    def _pick(self, stratum: str, avoid=()) -> str:
        choices = [t for t in self.strata[stratum] if t not in avoid]
        fresh = [t for t in choices if t not in self.used] or choices
        t = self.rng.choice(fresh)
        self.used.add(t)
        return t

    def wand(self, shape) -> WandQuery:
        name, mode, pos, neg = shape
        for _ in range(200):
            terms: List[str] = []
            for s in pos:
                terms.append(self._pick(s, terms))
            not_terms = [self._pick(s, terms) for s in neg]
            q = WandQuery(name, mode, tuple(terms), tuple(not_terms), tuple(pos + neg))
            if self.oracle.wand(q.terms, q.mode, q.must_not):
                return q
        raise RuntimeError(f"no non-empty {name} query in the pool strata")

    def parser(self) -> ParserQuery:
        head, mid = self._pick("head"), self._pick("mid")
        prefix = self.rng.choice(self.prefixes)
        lo, hi = EXPANSIONS
        for _ in range(10_000):  # a term whose ~1 ball holds lo..hi terms
            fuzzy = self.rng.choice(self._fuzzy_pool)
            if lo <= self._ball(fuzzy) <= hi:
                break
        else:
            raise RuntimeError("no fuzzy term with a suitable expansion count")
        a, b = self.rng.choice(self.bigrams)
        text = PARSER_TEMPLATE.format(head=head, mid=mid, prefix=prefix, fuzzy=fuzzy, a=a, b=b)
        groups = [[head], [mid], self.oracle.expand_prefix(prefix, self.vocab),
                  self.oracle.expand_fuzzy(fuzzy, 1, self.vocab)]
        return ParserQuery(text, groups, (a, b), "en", ("head", "mid", "prefix", "fuzzy", "bigram"))

    def batch_query(self) -> ParserQuery:
        mid, tail = self._pick("mid"), self._pick("tail")
        prefix = self.rng.choice(self.prefixes)
        text = BATCH_TEMPLATE.format(mid=mid, tail=tail, prefix=prefix)
        groups = [[mid], [tail], self.oracle.expand_prefix(prefix, self.vocab)]
        return ParserQuery(text, groups, None, None, ("mid", "tail", "prefix"))


def make_pools(oracle, seed: int, wand_per_shape: int, parser_n: int,
               batches: int, batch_size: int) -> Pools:
    pm = PoolMaker(oracle, seed)
    pools = Pools(head=tuple(pm.strata["head"]))
    for _ in range(wand_per_shape):
        for shape in WAND_SHAPES:
            pools.wand.append(pm.wand(shape))
    pools.parser = [pm.parser() for _ in range(parser_n)]
    pools.batches = [{f"q{i}": pm.batch_query() for i in range(batch_size)}
                     for _ in range(batches)]
    return pools
