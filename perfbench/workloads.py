"""The workloads, their shared set-up, and the traced-run probes.

Each workload is a closed loop with one client, served by the engine of
one untimed warm-up set-up. Its measuring window is split into rounds:
each round times one more set-up (built beside the served index) and then
serves until its share of the window ends, so set-ups and operations are
both sampled across the whole window rather than in one slice of it. Then
it runs its correctness gate. Every set-up and operation is tagged with
the share of CPU time the hypervisor stole while it ran; the end-to-end
medians are over the calm ones (see ``calm``). A traced run also fills the
per-layer ledger; counters there come from a fixed prefix of the
operation sequence so that they repeat exactly.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from opensearch_spark.analysis.analyzer import tokenize_pandas
from opensearch_spark.index import codec
from opensearch_spark.index.build import IndexPaths, build_index, write_termstats
from opensearch_spark.index.incremental import add_batch, compact_index, upsert_batch
from opensearch_spark.search import bm25, dsl, wand
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing import brute

import inputs
from inputs import FIELD
from ledger import OpTrace, Samples, SparkLedger, cpu_ticks, percentile, steal_frac
from oracle import SCORE_TOL, BruteOracle

K = 10
BATCH = 32                 # queries per msearch batch
IN_FLIGHT = 2              # serve-large batches in flight
POOL_PER_CACHE = 4         # query-small pool = 4x the engine's plan cache
WARM_QUERY = {"match": {FIELD: "return"}}
STEAL_MAX = 0.03           # a sample with more hypervisor steal is "stolen"

SIZES = {
    # docs: corpus size; rounds: timed set-ups per run, one per round;
    # count_ops: traced ops whose counters are reported; checks: correctness
    # sample size; min_calm: calm ops needed before the stolen ones are left
    # out of the medians
    "full": {
        "query-small": {"docs": 12_000, "rounds": 4, "count_ops": 12, "checks": 8,
                        "min_calm": 15},
        "serve-large": {"docs": 30_000, "rounds": 4, "count_ops": 2, "checks": 3,
                        "min_calm": 6},
    },
    "tiny": {
        "query-small": {"docs": 1_500, "rounds": 3, "count_ops": 4, "checks": 6,
                        "min_calm": 3},
        "serve-large": {"docs": 3_000, "rounds": 3, "count_ops": 2, "checks": 3,
                        "min_calm": 2},
    },
}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def file_state(path: str) -> Dict[str, Tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns)
    return out


def text_bytes(texts) -> int:
    return int(sum(len(t.encode("utf-8")) for t in texts))


def calm(values: List[float], steals: List[float], min_n: int) -> List[float]:
    """The samples taken while the hypervisor stole at most STEAL_MAX of
    the machine's CPU time, if there are at least ``min_n`` of them, else
    all samples. Other machines' bursts slow every step of a sample at
    once; leaving those samples out keeps them from reading as the
    program's own cost."""
    kept = [v for v, st in zip(values, steals) if st <= STEAL_MAX]
    return kept if len(kept) >= min_n else list(values)


class Bench:
    """State of one benchmark run: session, ledger, counters, results."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 trace: bool, size: str, work_dir: str, session_s: float) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size][workload]
        self.work_dir = work_dir
        self.index_dir = os.path.join(work_dir, "index")      # served
        self.setup_dir = os.path.join(work_dir, "set-up")     # timed set-ups
        self.session_s = session_s
        self.rng = np.random.default_rng([seed, 1])
        # one segment per core: one scoring task per core per request
        self.segments = int(spark.sparkContext.defaultParallelism)
        self.ledger = SparkLedger(spark)
        self.trace = OpTrace(self.ledger, self.size["count_ops"]) if trace else None
        self.ops = Samples()          # client-side op latencies (s)
        self.steal = Samples()        # hypervisor steal share during each op
        self.warming = False          # warm-up ops are not recorded
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []
        self.e2e: Dict[str, float] = {}
        self.layers: Dict[str, float] = {}
        self.detail: Dict[str, list] = {}   # raw samples behind the medians
        self.plan_key = "engine.plan_ms"    # the plan step of this workload's op

    # ---- bookkeeping -------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    # ---- set-up and rounds ----------------------------------------

    def setup_once(self, pdf: pd.DataFrame, record: bool = True) -> SearchEngine:
        """One set-up: DataFrame creation, a build into an empty directory,
        engine open and cache fill (the first query). The warm-up set-up
        (``record`` False) builds the index the run serves from. A timed
        one builds beside it, is recorded, and then releases its engine's
        cached frames; a traced run counts the first timed build's jobs."""
        index_dir = self.setup_dir if record else self.index_dir
        shutil.rmtree(index_dir, ignore_errors=True)
        cached_before = self.ledger.cached_mb()
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        df = self.spark.createDataFrame(pdf)
        t1 = time.perf_counter()
        with self.ledger.group() as gid:
            build_index(self.spark, df, index_dir, text_col=FIELD,
                        doc_id_col="doc_id", n_segments=self.segments)
        t2 = time.perf_counter()
        eng = SearchEngine(self.spark, index_dir, corpus=df,
                           text_field=FIELD, doc_id_col="doc_id", cache=True)
        t3 = time.perf_counter()
        eng.search(WARM_QUERY, k=K).collect()
        t4 = time.perf_counter()
        if not record:
            return eng
        for key, value in (("setup_s", t4 - t0), ("build_s", t2 - t1),
                           ("setup_steal", steal_frac(ticks, cpu_ticks()))):
            self.detail.setdefault(key, []).append(value)
        if "cache_mb" not in self.e2e:
            self.e2e["cache_mb"] = self.ledger.cached_mb() - cached_before
            self.e2e["index_bytes_per_input_byte"] = (
                dir_bytes(index_dir) / text_bytes(pdf[FIELD]))
            if self.trace:
                counts = self.ledger.counts(gid)
                io = self.ledger.stage_io(gid)
                self.layers.update({
                    "build.jobs": counts["jobs"], "build.stages": counts["stages"],
                    "build.tasks": counts["tasks"],
                    "build.shuffle_bytes_per_input_byte":
                        io["shuffle_bytes"] / text_bytes(pdf[FIELD]),
                    "build.spill_bytes": io["spill_bytes"],
                })
        if self.trace:
            self.trace.samples.add("engine.open_ms", (t3 - t2) * 1e3)
            self.trace.samples.add("engine.first_query_ms", (t4 - t3) * 1e3)
        eng.postings.unpersist()
        eng.docstats.unpersist()
        return eng

    def serve_rounds(self, pdf: pd.DataFrame, eng: SearchEngine, step,
                     warm_ops: int) -> None:
        """``eng`` comes from the untimed warm-up set-up, so the JVM's class
        loading and JIT and the Python workers' start-up are not in the
        timed ones; it serves ``warm_ops`` unrecorded ops, then the whole
        window. The window is split into equal rounds: each runs one timed
        set-up, then calls ``step(eng)`` (one op, at least once) until its
        share of the window ends. The host's speed drifts over tens of
        seconds; rounds spread the set-ups over the whole window instead
        of one slice of it."""
        self.warming = True
        for _ in range(warm_ops):
            step(eng)
        self.warming = False
        start = time.perf_counter()
        rounds = self.size["rounds"]
        for r in range(rounds):
            self.setup_once(pdf)
            round_end = start + (r + 1) * self.seconds / rounds
            step(eng)
            while time.perf_counter() < round_end:
                step(eng)
        while self.wants_more():
            step(eng)
        self.finish_setups(len(pdf))

    def wants_more(self) -> bool:
        """Past the window, a traced run still needs an untraced op to
        compare and its ``count_ops`` counted ops, so its counters repeat
        exactly. Stops at the first failure."""
        if self.trace is None or self.failed:
            return False
        return (len(self.ops.values) < 2
                or len(self.trace.counted) < self.trace.count_ops)

    def finish_setups(self, n_docs: int) -> None:
        spans, builds, steals = (self.detail[k] for k in ("setup_s", "build_s",
                                                           "setup_steal"))
        self.e2e["setup_s"] = self.session_s + percentile(calm(spans, steals, 1), 50)
        self.e2e["build_docs_per_s"] = n_docs / percentile(calm(builds, steals, 1), 50)
        if self.trace:
            self.layers["build.cold_s"] = percentile(builds, 50)

    # ---- one operation ------------------------------------------------

    def search_op(self, traced: bool, make_df, plan_key: str = "engine.plan_ms"):
        """Run a DataFrame-returning request; returns (rows, seconds)."""
        if traced:
            return self.trace.dataframe_op(make_df, plan_key)
        t0 = time.perf_counter()
        rows = make_df().collect()
        return rows, time.perf_counter() - t0

    def call_op(self, traced: bool, fn):
        if traced:
            return self.trace.call_op(fn)
        t0 = time.perf_counter()
        value = fn()
        return value, time.perf_counter() - t0

    def record_op(self, traced: bool, seconds: float, steal: float) -> None:
        if self.warming:
            return
        key = "traced" if traced else "op"
        self.ops.add(key, seconds)
        self.steal.add(key, steal)

    # ---- results ------------------------------------------------------

    def finish_ops(self, work_per_op: int) -> None:
        """``op_p50_s`` and ``work_per_s`` (``work_per_op`` units of work
        per op) over the calm ops."""
        key = "op" if "op" in self.ops else "traced"
        kept = calm(self.ops.values[key], self.steal.values[key],
                    self.size["min_calm"])
        self.detail["calm_ops"] = [len(kept)]
        self.e2e["op_p50_s"] = percentile(kept, 50)
        self.e2e["work_per_s"] = work_per_op * len(kept) / sum(kept)
        if self.trace:
            t = self.ops.values["traced"]
            self.layers["trace.op_p50_s"] = percentile(t, 50)
            self.layers["trace.op_p90_s"] = percentile(t, 90)
            if "op" in self.ops:
                self.layers["trace.untraced_op_p50_s"] = self.ops.p50("op")
                self.layers["trace.overhead_ms"] = (
                    percentile(t, 50) - self.ops.p50("op")) * 1e3


# ---- query-small ----------------------------------------------------------


def query_small(b: Bench) -> None:
    pdf = inputs.corpus(b.size["docs"], b.seed)
    eng = b.setup_once(pdf, record=False)
    maker = inputs.QueryMaker(inputs.term_bands(b.index_dir),
                              inputs.phrases(pdf, b.rng, 64), b.rng)
    pool, seq = inputs.small_traffic(
        maker, POOL_PER_CACHE * SearchEngine.MSEARCH_PLAN_CACHE, 20_000)
    first: Dict[int, tuple] = {}
    repeats = 0
    i = 0

    def step(eng: SearchEngine) -> None:
        nonlocal i, repeats
        idx = seq[i]
        kind, body = pool[idx]
        traced = b.trace is not None and i % 2 == 0 and not b.warming
        i += 1
        b.attempted += 1
        if traced:
            t0 = time.perf_counter()
            dsl.parse(body["query"] if kind == "source" else body)
            b.trace.samples.add("dsl.parse_ms", (time.perf_counter() - t0) * 1e3)
        ticks = cpu_ticks()
        try:
            res, dt = small_request(b, eng, kind, body, traced)
        except Exception as e:  # noqa: BLE001 - counted, reported
            b.fail(f"{kind}: {type(e).__name__}: {e}"[:300])
            return
        b.record_op(traced, dt, steal_frac(ticks, cpu_ticks()))
        if idx in first:
            repeats += 1
            if not same_result(kind, res, first[idx]):
                b.fail(f"repeat of pool[{idx}] changed its result")
        else:
            first[idx] = res

    # the warm-up engine serves one request of each kind
    b.serve_rounds(pdf, eng, step, warm_ops=len(inputs.SMALL_KINDS))
    b.finish_ops(work_per_op=1)
    if b.trace:
        b.layers["client.repeat_frac"] = repeats / max(i, 1)
    check_small(b, pdf, pool, first)
    if b.trace:
        layer_probe(b, eng, pdf, maker)


def small_request(b: Bench, eng: SearchEngine, kind: str, body: dict, traced: bool):
    if kind == "count":
        return b.call_op(traced, lambda: eng.count(body))
    if kind == "source":
        rows, dt = b.search_op(traced, lambda: eng.request(body)["hits"])
        return [(r["docId"], r["score"], r["path"], r["lang"]) for r in rows], dt
    rows, dt = b.search_op(traced, lambda: eng.search(body, k=K))
    return [(r["docId"], r["score"]) for r in rows], dt


def same_result(kind: str, got, ref) -> bool:
    if kind == "count":
        return got == ref
    return brute.rank_identical([r[:2] for r in got], [r[:2] for r in ref], SCORE_TOL)


def check_small(b: Bench, pdf: pd.DataFrame, pool, first: Dict[int, tuple]) -> None:
    """Seeded sample of answered requests against the brute-force oracle."""
    if not first:
        b.fail("no request answered")
        return
    oracle = BruteOracle(pdf)
    done = sorted(first)
    rng = np.random.default_rng([b.seed, 2])
    for idx in rng.choice(done, size=min(b.size["checks"], len(done)), replace=False):
        kind, body = pool[int(idx)]
        got = first[int(idx)]
        query = body["query"] if kind == "source" else body
        scores = oracle.scores(query)
        if kind == "count":
            ok = got == len(scores)
        else:
            ok = brute.rank_identical([r[:2] for r in got], brute.topk(scores, K),
                                      SCORE_TOL)
            if kind == "source":
                ok = ok and oracle.source_ok(
                    [{"docId": r[0], "path": r[2], "lang": r[3]} for r in got])
        if not ok:
            b.fail(f"oracle mismatch for {kind} {body}")


# ---- serve-large ----------------------------------------------------------


def serve_large(b: Bench) -> None:
    pdf = inputs.corpus(b.size["docs"], b.seed)
    eng = b.setup_once(pdf, record=False)
    b.plan_key = "engine.msearch_plan_ms"
    maker = inputs.QueryMaker(inputs.term_bands(b.index_dir),
                              inputs.phrases(pdf, b.rng, 256), b.rng)
    answered: List[Tuple[List[dict], list]] = []

    def step(eng: SearchEngine) -> None:
        pair = [inputs.serve_batch(maker, BATCH) for _ in range(IN_FLIGHT)]
        b.attempted += len(pair)
        ticks = cpu_ticks()
        try:
            if b.trace is None:
                t0 = time.perf_counter()
                results = eng.msearch_many(pair, k=K, max_concurrent=IN_FLIGHT)
                b.record_op(False, time.perf_counter() - t0,
                            steal_frac(ticks, cpu_ticks()))
            else:
                # traced runs serve one batch at a time, every other one
                # traced, so a batch's layer split is not blurred by the
                # batch beside it
                results = []
                for j, batch in enumerate(pair):
                    ticks = cpu_ticks()
                    traced = j == 0 and not b.warming
                    rows, one = b.search_op(traced, lambda: eng.msearch(batch, k=K),
                                            plan_key="engine.msearch_plan_ms")
                    b.record_op(traced, one, steal_frac(ticks, cpu_ticks()))
                    results.append(rows)
        except Exception as e:  # noqa: BLE001 - counted, reported
            b.fail(f"msearch: {type(e).__name__}: {e}"[:300])
            return
        answered.extend(zip(pair, results))

    b.serve_rounds(pdf, eng, step, warm_ops=1)
    # an untraced op answers IN_FLIGHT batches, a traced one a single batch
    b.finish_ops(work_per_op=BATCH * (IN_FLIGHT if b.trace is None else 1))
    check_serve(b, eng, answered)
    if b.trace:
        layer_probe(b, eng, pdf, maker)


def check_serve(b: Bench, eng: SearchEngine, answered) -> None:
    """A seeded sample of msearch answers against ``search(k)``."""
    if not answered:
        b.fail("no batch answered")
        return
    rng = np.random.default_rng([b.seed, 3])
    for j in rng.choice(len(answered), size=min(b.size["checks"], len(answered)),
                        replace=False):
        batch, rows = answered[int(j)]
        qid = int(rng.integers(0, len(batch)))
        got = [(r["docId"], r["score"]) for r in rows if r["qid"] == qid]
        want = [(r["docId"], r["score"]) for r in eng.search(batch[qid], k=K).collect()]
        if not brute.rank_identical(got, want, SCORE_TOL):
            b.fail(f"msearch differs from search for {batch[qid]}")


# ---- traced-run probes ----------------------------------------------------


def timed_compact(b: Bench) -> None:
    before = file_state(b.index_dir)
    size = dir_bytes(b.index_dir)
    t0 = time.perf_counter()
    compact_index(b.spark, b.index_dir)
    dt = time.perf_counter() - t0
    if b.trace:
        after = file_state(b.index_dir)
        written = sum(os.path.getsize(p) for p, st in after.items() if before.get(p) != st)
        b.trace.samples.add("incremental.compact_s", dt)
        b.trace.samples.add("incremental.compact_bytes_written_per_index_byte",
                            written / size)


def layer_probe(b: Bench, eng: SearchEngine, pdf: pd.DataFrame,
                maker: inputs.QueryMaker) -> None:
    """Fills the ledger rows the workload's own operations do not reach:
    single searches or msearch batches, fetch, the in-process kernels,
    termstats and the incremental writers. Runs after the gate."""
    t = b.trace.samples
    if "dsl.parse_ms" not in t:
        for body in inputs.serve_batch(maker, BATCH):
            t0 = time.perf_counter()
            dsl.parse(body)
            t.add("dsl.parse_ms", (time.perf_counter() - t0) * 1e3)
    if "engine.plan_ms" not in t:
        for body in (maker.match_or(), maker.bool(), maker.phrase()):
            b.search_op(True, lambda: eng.search(body, k=K))
    if "engine.msearch_plan_ms" not in t:
        for _ in range(2):
            batch = inputs.serve_batch(maker, 8)
            b.search_op(True, lambda: eng.msearch(batch, k=K),
                        plan_key="engine.msearch_plan_ms")
    hits = b.spark.createDataFrame(
        eng.search(maker.match_or(), k=K).collect()).select("docId", "score")
    hits.count()
    for _ in range(3):
        t0 = time.perf_counter()
        eng.fetch(hits).collect()
        t.add("engine.fetch_ms", (time.perf_counter() - t0) * 1e3)
    kernel_probe(b, eng, pdf, maker)
    t0 = time.perf_counter()
    write_termstats(b.spark, IndexPaths(b.index_dir))
    b.layers["build.termstats_s"] = time.perf_counter() - t0
    incremental_probe(b)


def kernel_probe(b: Bench, eng: SearchEngine, pdf: pd.DataFrame,
                 maker: inputs.QueryMaker) -> None:
    """The scoring and codec kernels in-process, on segment 0's blocks read
    with pyarrow, and the analyzer over the corpus text."""
    seg = pq.read_table(os.path.join(b.index_dir, "postings"),
                        filters=[("seg", "=", 0)]).to_pandas()
    ts = pq.read_table(os.path.join(b.index_dir, "termstats")).to_pandas()
    df = ts.groupby("term")["df"].sum().to_dict()
    n, avgdl = int(eng.doc_count), float(eng.avgdl)

    def idfs(terms):
        return {t: bm25.idf(int(df[t]), n) for t in terms if t in df}

    t = b.trace.samples
    decoded = total = 0
    # fixed probe queries, whatever the workload drew before
    maker = inputs.QueryMaker({"high": maker.high, "mid": maker.mid},
                              maker.phrase_pool, np.random.default_rng([b.seed, 4]))
    for _ in range(6):
        terms = maker.match_or()["match"][FIELD].split()
        rows = seg[seg["term"].isin(terms)]
        t0 = time.perf_counter()
        _, _, st = wand.score_match_topk(rows, idfs(terms), avgdl, K)
        t.add("wand.match_ms_per_segment", (time.perf_counter() - t0) * 1e3)
        decoded += st["decoded"]
        total += st["total"]
        words = maker.phrase()["match_phrase"][FIELD].split()
        rows = seg[seg["term"].isin(words)]
        t0 = time.perf_counter()
        _, _, st = wand.score_phrase_topk(rows, words, idfs(words), avgdl, K)
        t.add("wand.phrase_ms_per_segment", (time.perf_counter() - t0) * 1e3)
        decoded += st["decoded"]
        total += st["total"]
    b.layers["wand.blocks_decoded_frac"] = decoded / total if total else 0.0

    blocks = list(zip(seg["n_docs"].tolist(), seg["doc_bytes"], seg["tf_bytes"]))
    nbytes = sum(len(d) + len(f) for _, d, f in blocks)
    t0 = time.perf_counter()
    arrays = [(codec.delta_decode_sorted(d, c), codec.varint_decode(f, c))
              for c, d, f in blocks]
    b.layers["codec.decode_mb_s"] = nbytes / 1e6 / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    out = sum(len(codec.delta_encode_sorted(docs)) + len(codec.varint_encode(tfs))
              for docs, tfs in arrays)
    b.layers["codec.encode_mb_s"] = out / 1e6 / (time.perf_counter() - t0)
    texts = pdf[FIELD].reset_index(drop=True)
    t0 = time.perf_counter()
    tokenize_pandas(texts)
    b.layers["analysis.tokenize_mb_s"] = text_bytes(texts) / 1e6 / (time.perf_counter() - t0)


def incremental_probe(b: Bench) -> None:
    """One add_batch, one upsert_batch and one compaction on the served
    index (after the window and the gate)."""
    s = b.size
    n_add = max(s["docs"] // 30, 50)
    extra = inputs.corpus(n_add, b.seed * 1000 + 999, first_id=s["docs"])
    t0 = time.perf_counter()
    add_batch(b.spark, b.spark.createDataFrame(extra), b.index_dir,
              text_col=FIELD, doc_id_col="doc_id")
    b.trace.samples.add("incremental.add_batch_s", time.perf_counter() - t0)
    redo = inputs.corpus(max(n_add // 5, 10), b.seed * 1000 + 998)
    t0 = time.perf_counter()
    upsert_batch(b.spark, b.spark.createDataFrame(redo), b.index_dir,
                 text_col=FIELD, doc_id_col="doc_id")
    b.trace.samples.add("incremental.upsert_s", time.perf_counter() - t0)
    timed_compact(b)


WORKLOADS = {"query-small": query_small, "serve-large": serve_large}


def layer_metrics(b: Bench) -> Dict[str, float]:
    """The per-layer ledger of a traced run, as reported numbers."""
    t = b.trace.samples
    out = dict(b.layers)
    for name in ("dsl.parse_ms", "engine.plan_ms", "engine.msearch_plan_ms",
                 "engine.fetch_ms", "engine.open_ms", "engine.first_query_ms",
                 "spark.catalyst_ms", "spark.execute_ms",
                 "udf.python_total_ms", "udf.python_init_ms", "udf.python_boot_ms",
                 "wand.match_ms_per_segment", "wand.phrase_ms_per_segment",
                 "incremental.add_batch_s", "incremental.upsert_s",
                 "incremental.compact_s",
                 "incremental.compact_bytes_written_per_index_byte"):
        if name in t:   # an unmeasured layer stays missing and fails the run
            out[name] = t.p50(name)
    out.update(b.trace.counters())
    out.setdefault("client.repeat_frac", 0.0)   # distinct operations only
    steps = sum(out[k] for k in (b.plan_key, "spark.catalyst_ms", "spark.execute_ms"))
    out["trace.coverage_frac"] = steps / 1e3 / out["trace.op_p50_s"]
    return out
