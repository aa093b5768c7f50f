"""The workloads, their query generator, their output checks, and the
traced run's per-layer measurements.

Both workloads are one client in a closed loop over an index built in
set-up: the next call starts when the previous one has returned its rows.
Results are kept and checked against the oracle after the timed window, so
checking costs no window time.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

from measure import Tally, median, self_time
from oracle import Oracle, compare_build, compare_topk, tokenize
from tracing import (Tracer, cpu_ticks, gc_ms, jobs_and_tasks, process_cpu,
                     steal_share, tree_cpu)

K = 10
BATCH_SIZE = 64
#: df-rank tiers of the lexicon, (tier, first rank share, end rank share).
#: They are strata that keep the make-up of a run steady, not weights: each
#: tier gets the share of query terms that its share of the corpus's
#: summed df gives it (see ``tier_slots``)
TIERS = (("head", 0.0, 0.01), ("torso", 0.01, 0.2), ("tail", 0.2, 1.0))
#: query terms are drawn in shuffled blocks of this many
BLOCK = 100
#: every OOV_EVERY-th query carries an out-of-vocabulary term
OOV_EVERY = 10
#: single searches compared with the first batch's results
BATCH_VS_SINGLE = 2


@dataclass
class Bench:
    spark: object
    oracle: Oracle
    corpus: object  # the corpus DataFrame, read once in set-up
    tracer: Tracer | None
    jvm_pid: int
    tally: Tally = field(default_factory=Tally)
    #: id and top span of the last traced operation
    last_op: int = 0
    last_span: dict | None = None

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw) if self.tracer else nullcontext({})


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- inputs ----------------------------------------------------------------

def tier_slots(weights, block: int) -> list[int]:
    """Whole counts per tier that sum to ``block`` and follow ``weights``
    (largest remainder)."""
    w = np.asarray(weights, dtype=np.float64)
    exact = w / w.sum() * block
    counts = np.floor(exact).astype(int)
    for i in np.argsort(-(exact - counts), kind="stable")[:block - counts.sum()]:
        counts[i] += 1
    return counts.tolist()


def tiers(oracle: Oracle) -> list[tuple[list[str], np.ndarray]]:
    """The lexicon cut into TIERS: each tier's terms and their df."""
    lex = oracle.lexicon()
    n = len(lex)
    out = []
    for _, lo, hi in TIERS:
        terms = lex[int(lo * n):max(int(hi * n), int(lo * n) + 1)]
        out.append((terms, np.array([oracle.df[t] for t in terms], dtype=np.float64)))
    return out


def draw_block(strata, counts: list[int], rng) -> list[str]:
    """One block of query terms in shuffled order: ``counts[i]`` terms of
    tier i, drawn in proportion to df by systematic sampling (equally
    spaced points on the tier's cumulative df, from a random start), so
    that a term's count in the block is its expected count rounded up or
    down."""
    out: list[str] = []
    for (terms, df), c in zip(strata, counts):
        cum = np.cumsum(df) / df.sum()
        points = (rng.random() + np.arange(c)) / c
        idx = np.minimum(np.searchsorted(cum, points, side="right"), len(terms) - 1)
        out.extend(terms[i] for i in idx)
    return [out[i] for i in rng.permutation(len(out))]


def make_queries(oracle: Oracle, seed: int, stream: int, n: int) -> list[str]:
    """``n`` seeded queries whose terms are drawn in proportion to their df.

    There is no query log to copy, so a query term is taken to be a word
    of a random document: term t comes up with probability df(t) / sum df.
    For steadiness the draw is stratified (``draw_block``): terms come in
    blocks of BLOCK with each tier's count fixed by its share of the
    summed df, and the terms of a tier by systematic sampling. A query
    takes the next terms of the blocks, so it may name a term twice
    (qf > 1). Query i has 1 + i % 4 terms, and every OOV_EVERY-th query
    carries an out-of-vocabulary term in place of its last one (or as a
    second term). The seed picks the terms."""
    rng = np.random.default_rng([seed, stream])
    strata = tiers(oracle)
    counts = tier_slots([df.sum() for _, df in strata], BLOCK)
    pending: list[str] = []
    out = []
    for i in range(n):
        terms: list[str] = []
        while len(terms) < 1 + i % 4:
            if not pending:
                pending = draw_block(strata, counts, rng)
            terms.append(pending.pop())
        if i % OOV_EVERY == OOV_EVERY - 1:
            oov = ""
            while not oov or oov in oracle.df:
                oov = "".join(chr(97 + c) for c in
                              rng.integers(0, 26, size=int(rng.integers(6, 10))))
            # keep at least one in-vocabulary term
            if len(terms) > 1:
                terms[-1] = oov
            else:
                terms.append(oov)
        out.append(" ".join(terms))
    return out


def vocab_terms(oracle: Oracle, queries: list[str]) -> list[str]:
    return sorted({t for q in queries for t in tokenize(q) if t in oracle.df})


# -- checks ----------------------------------------------------------------

def raised(got) -> str | None:
    """The failure of a call that raised instead of returning rows."""
    return f"raised {got!r}" if isinstance(got, Exception) else None


def check_query(oracle: Oracle, query: str, got) -> str | None:
    scores = oracle.scores(query)
    return compare_topk(got, scores, oracle.topk(scores, K))


def check_built(bench: Bench, built) -> str | None:
    stats = {r.term: (int(r.df), int(r.cf))
             for r in built.term_stats.select("term", "df", "cf").toPandas().itertuples()}
    store = [(int(r.doc_id), r.conv_id, int(r.turn_idx), r.text)
             for r in built.doc_map.select("doc_id", "conv_id", "turn_idx", "text")
             .toPandas().itertuples()]
    return compare_build(bench.oracle, built.scalars.n_docs,
                         built.scalars.sum_dl, stats, store)


# -- operations ------------------------------------------------------------

def traced(bench: Bench, name: str, fn):
    """Run ``fn()`` as one operation. Traced, it runs under its own Spark
    job group inside a span that carries the operation's jobs, tasks, GC
    and process-tree CPU; the readings are taken outside the span and
    their cost is charged to the operation as tracing overhead."""
    if bench.tracer is None:
        return fn()
    spark, tr = bench.spark, bench.tracer
    op = bench.last_op = bench.last_op + 1
    b0 = time.perf_counter()
    group = f"perfbench-{op}"
    spark.sparkContext.setJobGroup(group, name)
    gc0, (jvm0, py0) = gc_ms(spark), tree_cpu(bench.jvm_pid)
    b1 = time.perf_counter()
    with tr.span(name, op=op) as s:
        out = fn()
    b2 = time.perf_counter()
    gc1, (jvm1, py1) = gc_ms(spark), tree_cpu(bench.jvm_pid)
    jobs, tasks = jobs_and_tasks(spark, group)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    s["counts"].update(gc_ms=gc1 - gc0, jvm_cpu_s=jvm1 - jvm0,
                       py_cpu_s=py1 - py0, spark_jobs=jobs, spark_tasks=tasks)
    bench.last_span = s
    tr.charge(op, (b1 - b0) + (time.perf_counter() - b2))
    return out


def build_once(bench: Bench, out_dir: str, n_shards: int | None = None):
    from searchengine_spark.pipeline import read_manifest, run_build

    built = traced(bench, "build", lambda: run_build(
        bench.spark, bench.corpus, out_dir, layouts=("doc",), n_shards=n_shards))
    if bench.tracer is not None:
        # committed manifest rows become the build's stage spans; a row's
        # wall_s ends at its ts (wall clock, moved to the span clock)
        off = time.time() - time.perf_counter()
        for row in read_manifest(out_dir):
            if row["status"] == "COMMITTED":
                end = row["ts"] - off
                bench.tracer.add(
                    f"stage.{row['stage']}", end - row["wall_s"], end,
                    bench.last_span["id"],
                    bytes=dir_bytes(os.path.join(out_dir, f"{row['stage']}.parquet")),
                    **{k: row[k] for k in ("wall_s", "rows", "skew_factor", "postings")
                       if k in row})
    return built


def search_once(bench: Bench, eng, query: str):
    def run():
        with bench.span("engine.plan"):
            df = eng.search(query, k=K)
        with bench.span("engine.execute"):
            rows = df.collect()
        return [(int(r.doc_id), float(r.score)) for r in rows]

    return traced(bench, "query", run)


def batch_once(bench: Bench, eng, queries: list[str]):
    def run():
        with bench.span("engine.plan"):
            df = eng.search_batch(list(enumerate(queries)), k=K)
        with bench.span("engine.execute"):
            rows = df.collect()
        got: list[list] = [[] for _ in queries]
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            got[r.query_id].append((int(r.doc_id), float(r.score)))
        return got

    return traced(bench, "batch", run)


# -- the traced run's layer plans -----------------------------------------

def measure_layers(bench: Bench, eng, terms: list[str]) -> None:
    """Time plans over the public ``doc_segments`` that add one query layer
    at a time: the pruned scan, then the exchange by shard, then a grouped
    pandas map that does nothing; then decode the matched rows on the
    driver with the public ``decode_payload``. The spans join the last
    traced operation."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from searchengine_spark.operators.segments import decode_payload

    op = bench.last_op
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("score", T.DoubleType())])

    def noop(pdf):
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})

    matched = eng.doc_segments.filter(F.col("term").isin(terms))
    # the engine's grouped WAND stage runs at 4x default parallelism
    n = bench.spark.sparkContext.defaultParallelism * 4
    with bench.span("wand.scan", op=op):
        matched.write.format("noop").mode("overwrite").save()
    with bench.span("wand.exchange", op=op):
        matched.repartition(n, "shard").write.format("noop").mode("overwrite").save()
    with bench.span("wand.handoff", op=op):
        matched.repartition(n, "shard").groupBy("shard").applyInPandas(noop, schema).collect()
    rows = matched.collect()
    with bench.span("segments.decode", op=op, rows=len(rows),
                    shards=len({r.shard for r in rows}),
                    postings=sum(int(r.n) for r in rows)):
        for r in rows:
            decode_payload(r)


# -- workloads -------------------------------------------------------------

@dataclass
class Window:
    """What one timed window measured: the wall of every call, the share
    of the machine's CPU time the host took away (steal) during each call
    and during the whole window, the queries answered and the CPU used.

    Wall times are reported with the stolen share taken out (a wall times
    one minus the steal share): on a virtual machine whose host takes 2-41%
    of the CPU time, varying from minute to minute, the raw walls of two
    runs of the same code differ by more than any bound worth setting."""

    walls: list[float] = field(default_factory=list)
    steal: list[float] = field(default_factory=list)
    queries: int = 0
    start: float = 0.0
    end: float = 0.0
    window_steal: float = 0.0
    cpu_s: float = 0.0

    def metrics(self) -> dict:
        return {"call_p50_ms": median([w * (1 - f) for w, f in
                                       zip(self.walls, self.steal)]) * 1e3,
                "queries_per_s": self.queries / ((self.end - self.start)
                                                 * (1 - self.window_steal)),
                "cpu_ms_per_query": self.cpu_s / self.queries * 1e3}


class QueryWorkload:
    """Warm calls over the set-up index, one at a time, for ``seconds``.

    A subclass names its call (``op``), makes its seeded calls and warm-up
    calls (``make_calls``), runs one call (``call``) and checks the
    results (``check``). A call is a list of queries."""

    name = op = ""

    def __init__(self, bench: Bench, seed: int):
        self.bench = bench
        self.calls, self.warmup = self.make_calls(seed)
        self.results: list = []

    def warm(self, index_dir: str) -> None:
        from searchengine_spark.engine import SearchEngine

        self.eng = SearchEngine.load(self.bench.spark, index_dir)
        for c in self.warmup:
            self.call(c)

    def run(self, seconds: float) -> Window:
        """Calls until ``seconds`` have passed, each one whole. In a traced
        run the layer plans follow each call, outside its wall."""
        b = self.bench
        cpu0, ticks0 = process_cpu(b.jvm_pid), cpu_ticks()
        w = Window(start=time.perf_counter())
        i = 0
        while True:
            c = self.calls[i % len(self.calls)]
            k0 = cpu_ticks()
            t0 = time.perf_counter()
            try:
                got = self.call(c)
            except Exception as e:  # a failed call is counted, not fatal
                got = e
            w.walls.append(time.perf_counter() - t0)
            w.steal.append(steal_share(k0, cpu_ticks()))
            w.queries += len(c)
            self.results.append((c, got))
            if b.tracer is not None and not isinstance(got, Exception):
                measure_layers(b, self.eng, vocab_terms(b.oracle, c))
            w.end = time.perf_counter()
            i += 1
            if w.end - w.start >= seconds:
                w.cpu_s = process_cpu(b.jvm_pid) - cpu0
                w.window_steal = steal_share(ticks0, cpu_ticks())
                return w


class ServeWorkload(QueryWorkload):
    """Warm single-query ``search(q, k=10).collect()``, one at a time."""

    name, op = "serve", "query"

    def make_calls(self, seed):
        return ([[q] for q in make_queries(self.bench.oracle, seed, 1, 2000)],
                [[q] for q in make_queries(self.bench.oracle, seed, 2, 8)])

    def call(self, c):
        return [search_once(self.bench, self.eng, c[0])]

    def check(self) -> None:
        for (q,), got in self.results:
            self.bench.tally.record(f"query {q!r}", raised(got) or
                                    check_query(self.bench.oracle, q, got[0]))


class BatchWorkload(QueryWorkload):
    """Warm ``search_batch`` of 64-query batches, one at a time."""

    name = op = "batch"

    def make_calls(self, seed):
        def batches(stream, n):
            qs = make_queries(self.bench.oracle, seed, stream, BATCH_SIZE * n)
            return [qs[i:i + BATCH_SIZE] for i in range(0, len(qs), BATCH_SIZE)]

        return batches(1, 60), batches(2, 3)

    def call(self, c):
        return batch_once(self.bench, self.eng, c)

    def check(self) -> None:
        b = self.bench
        # batch results must equal single-query search for the same queries
        qs0, got0 = self.results[0]
        single = [[(int(r.doc_id), float(r.score))
                   for r in self.eng.search(q, k=K).collect()]
                  for q in qs0[:BATCH_VS_SINGLE]]
        for n, (qs, got) in enumerate(self.results):
            problem = raised(got)
            for q, rows in zip(qs, got if problem is None else []):
                problem = check_query(b.oracle, q, rows)
                if problem:
                    problem = f"query {q!r}: {problem}"
                    break
            if problem is None and n == 0:
                for q, batch_rows, rows in zip(qs0, got0, single):
                    if compare_topk(batch_rows, b.oracle.scores(q), rows) is not None:
                        problem = f"query {q!r}: batch {batch_rows} != single {rows}"
                        break
            b.tally.record(f"batch {n}", problem)


WORKLOADS = {w.name: w for w in (ServeWorkload, BatchWorkload)}


# -- per-layer metrics from the spans -------------------------------------

def layer_metrics(tr: Tracer, op_name: str) -> dict:
    """Median per operation of every per-layer metric.

    The pipeline layers come from the set-up build; the query layers and
    the ``jvm``/``pyworker`` readings from the workload's own calls
    (``op_name``: "query" or "batch")."""
    by_op: dict[int, dict[str, dict]] = {}
    for s in tr.spans:
        by_op.setdefault(s["op"], {})[s["name"]] = s
    out: dict[str, list] = {}

    def put(name, value):
        out.setdefault(name, []).append(float(value))

    def ms(span):
        return (span["end"] - span["start"]) * 1e3

    for o in by_op.values():
        if "build" in o:
            b = o["build"]
            stages = {s["name"][len("stage."):]: s for s in tr.children(b)}
            dm, ds, ts = stages["doc_map"], stages["doc_segments"], stages["term_stats"]
            put("ingest.doc_map_s", dm["counts"]["wall_s"])
            put("segments.doc_segments_s", ds["counts"]["wall_s"])
            put("forward.term_stats_s", ts["counts"]["wall_s"])
            put("pipeline.unstaged_s", self_time(
                b["start"], b["end"], [(s["start"], s["end"]) for s in stages.values()]))
            put("pipeline.spark_jobs", b["counts"]["spark_jobs"])
            put("pipeline.spark_tasks", b["counts"]["spark_tasks"])
            put("ingest.skew_factor", dm["counts"]["skew_factor"])
            put("segments.skew_factor", ds["counts"]["skew_factor"])
            put("segments.rows", ds["counts"]["rows"])
            put("segments.postings", ds["counts"]["postings"])
            put("ingest.doc_map_bytes", dm["counts"]["bytes"])
            put("segments.doc_segments_bytes", ds["counts"]["bytes"])
            put("forward.term_stats_bytes", ts["counts"]["bytes"])
        if op_name in o and "segments.decode" in o:
            c = o[op_name]["counts"]
            put("engine.plan_ms", ms(o["engine.plan"]))
            put("engine.execute_ms", ms(o["engine.execute"]))
            put("engine.spark_jobs", c["spark_jobs"])
            put("engine.spark_tasks", c["spark_tasks"])
            put("wand.scan_ms", ms(o["wand.scan"]))
            put("wand.exchange_ms", ms(o["wand.exchange"]))
            put("wand.handoff_ms", ms(o["wand.handoff"]))
            put("wand.kernel_merge_ms", ms(o["engine.execute"]) - ms(o["wand.handoff"]))
            dec = o["segments.decode"]
            put("wand.matched_rows", dec["counts"]["rows"])
            put("wand.shards_touched", dec["counts"]["shards"])
            put("segments.decode_ms", ms(dec))
            put("segments.postings_decoded", dec["counts"]["postings"])
            put("jvm.gc_ms", c["gc_ms"])
            put("jvm.cpu_s", c["jvm_cpu_s"])
            put("pyworker.cpu_s", c["py_cpu_s"])
            put("bench.trace_overhead_ms", tr.overhead[o[op_name]["op"]] * 1e3)
    return {k: median(v) for k, v in out.items()}
