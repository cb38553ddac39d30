"""The workloads.  Each drives the library only through its public
functions, in one closed loop with one client.

A workload generates its inputs in ``prepare`` (pure Python, so it can
overlap the Spark session start), builds any Spark-side state in
``setup``, runs one untimed ``warmup`` op, then ``op(i)`` repeatedly;
each op returns the problems it found (empty when every answer checked
out).  ``bind`` creates the DataFrames the ops read, once the session
and the inputs exist.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import checks
import gen
from harness import median, tail

NUM_BUCKETS = 8
NUM_SALTS = 4
K = 10
INPUT_FILES = 16


def _write_inputs(corpus: gen.Corpus, path: str) -> None:
    """The corpus as INPUT_FILES parquet files, the way a crawl arrives:
    several files let the scan run in parallel."""
    os.makedirs(path, exist_ok=True)
    for j, part in enumerate(np.array_split(np.arange(len(corpus)), INPUT_FILES)):
        corpus.write_parquet(os.path.join(path, f"part-{j:05d}.parquet"), part)


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Workload:
    name = ""
    unit = ""
    MIN_OPS = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.op_ms: list[float] = []
        self.work = 0.0  # units of work done by timed calls
        self.work_s = 0.0  # seconds those calls took
        self.sizes: dict = {}

    @property
    def spark(self):
        return self.ctx.spark

    def setup(self) -> None:
        pass

    def bind(self) -> None:
        pass

    def warmup(self) -> list[str]:
        return self.op(-1, warm=True)

    def detail(self) -> dict:
        return {}


# ------------------------------------------------------------------ build


class Build(Workload):
    """``build_index`` of the whole corpus into a fresh directory."""

    name = "build"
    unit = "docs"
    N_DOCS = 3000
    MIN_OPS = 1

    def prepare(self):
        ctx = self.ctx
        self.corpus = gen.make_corpus(ctx.seed, self.N_DOCS, boilerplate_share=0.05)
        self.src = ctx.rd.sub("corpus")
        _write_inputs(self.corpus, self.src)
        self.truth = gen.tokenize_corpus(self.corpus)
        self.sizes = {
            "docs": len(self.corpus), "chars": self.corpus.chars(),
            "text_bytes": self.corpus.text_bytes(), **self.truth.stats(),
        }
        self.probes = gen.make_queries(ctx.seed, self.truth, 6)
        self.oracle = {q: checks.bm25_oracle(self.truth, q.text, q.mode) for q in self.probes}
        self.index_bytes: list[int] = []

    def bind(self):
        self.docs = self.spark.read.parquet(self.src)

    def op(self, i: int, warm: bool = False) -> list[str]:
        from pg_cjk_parser_spark.index.build import build_index
        from pg_cjk_parser_spark.query.topk import search_local

        out = os.path.join(self.ctx.rd.path, f"build-{i}")
        t0 = time.perf_counter()
        st = self.ctx.call(
            "index.build", "build_index", build_index, self.spark, self.docs, out,
            docid_col="doc_id", num_buckets=NUM_BUCKETS, num_salts=NUM_SALTS,
            n_docs=self.N_DOCS, attrs={"chars": self.sizes["chars"]},
        )
        dt = time.perf_counter() - t0
        problems = []
        want = self.truth.stats()
        got = {
            "n_docs": st["n_docs"], "n_postings": st["n_postings"],
            "total_tf": st["total_tf"], "n_terms": st["n_terms_approx"],
        }
        if got != want:
            problems.append(f"build stats {got} != expected {want}")
        q = self.probes[(i + 1) % len(self.probes)]
        res = search_local(out, q.text, k=K, mode=q.mode)
        if not checks.agree(res, self.oracle[q], K):
            problems.append(f"probe {q.text!r} disagrees with the oracle")
        if not warm:
            self.op_ms.append(dt * 1e3)
            self.work += self.N_DOCS
            self.work_s += dt
            self.index_bytes.append(_dir_stats(out)[1])
        shutil.rmtree(out, ignore_errors=True)
        return problems

    def detail(self):
        ib = median(self.index_bytes)
        return {
            "build_docs_per_s": self.work / self.work_s if self.work_s else None,
            "index_bytes": ib,
            "index_bytes_per_text_byte": ib / self.sizes["text_bytes"],
            "distinct_terms_vs_caches": {
                "distinct_terms": self.sizes["n_terms"],
                "stem_cache_entries": 1 << 20,
            },
        }


# ------------------------------------------------------------------ query


class Query(Workload):
    """Read-only query mix over an index built in setup.  One op is one
    query on the Spark path (``search`` / ``search_rank_cd`` with
    ``.collect()``); each op also answers ``LOCAL_PER_OP`` queries on
    the serving path, and the same queries are answered again in
    batches: every ``BATCH`` BM25 queries as one ``search_many`` call
    (the batch throughput), every ``RANK_BATCH`` rank queries as one
    ``search_many_rank`` call.  All paths must agree, and the oracle
    subset must match BM25."""

    name = "query"
    unit = "queries"
    N_DOCS = 3000
    POOL = 90
    ORACLE = 15
    BATCH = 3
    RANK_BATCH = 2
    LOCAL_PER_OP = 3
    MIN_OPS = 8  # two search_many batches (4 of 5 queries are BM25)

    def prepare(self):
        ctx = self.ctx
        self.corpus = gen.make_corpus(ctx.seed, self.N_DOCS, boilerplate_share=0.05)
        self.src = ctx.rd.sub("corpus")
        _write_inputs(self.corpus, self.src)
        self.truth = gen.tokenize_corpus(self.corpus)
        self.pool = gen.make_queries(ctx.seed, self.truth, self.POOL)
        rng = np.random.default_rng([ctx.seed, 0x0AC1E])
        bm25 = [q for q in self.pool if not q.rank_cd]
        pick = rng.choice(len(bm25), min(self.ORACLE, len(bm25)), replace=False)
        self.oracle = {
            bm25[int(j)]: checks.bm25_oracle(self.truth, bm25[int(j)].text, "tsquery")
            for j in pick
        }

    def setup(self):
        from pg_cjk_parser_spark.index.build import build_index

        self.index = self.ctx.rd.sub("index")
        st = build_index(
            self.spark, self.spark.read.parquet(self.src), self.index,
            docid_col="doc_id", num_buckets=NUM_BUCKETS, num_salts=NUM_SALTS,
        )
        ib = _dir_stats(self.index)[1]
        self.sizes = {
            "docs": len(self.corpus), "chars": self.corpus.chars(),
            "text_bytes": self.corpus.text_bytes(), **self.truth.stats(),
            "index_bytes": ib, "queries": len(self.pool),
            "oracle_queries": len(self.oracle), "build_postings": st["n_postings"],
        }
        self.spark_ms: dict[str, list[float]] = {b: [] for b in gen.BANDS}
        self.local_ms: list[float] = []
        self.batch_ms: list[float] = []
        self.rank_batch_ms: list[float] = []
        self.answers: dict[gen.Query, list] = {}
        self.pending: dict[bool, list[gen.Query]] = {False: [], True: []}

    def _spark(self, q):
        from pg_cjk_parser_spark.query.topk import search, search_rank_cd

        fn = search_rank_cd if q.rank_cd else search
        tr = self.ctx.tracer
        with tr.span("query.topk", fn.__name__):
            with tr.span("", "route"):
                df = fn(self.spark, self.index, q.text, k=K, mode=q.mode)
            with tr.span("", "exec"):
                rows = df.collect()
        col = "rank" if q.rank_cd else "score"
        return [(r["docid"], r[col]) for r in rows]

    def _local(self, q):
        from pg_cjk_parser_spark.query.topk import rank_local, search_local

        fn = rank_local if q.rank_cd else search_local
        return self.ctx.call(
            "query.topk", fn.__name__, fn, self.index, q.text, k=K, mode=q.mode,
            profile=True,
        )

    def _batch(self, qs, warm: bool) -> list[str]:
        from pg_cjk_parser_spark.query.topk import search_many, search_many_rank

        rank_cd = qs[0].rank_cd
        fn = search_many_rank if rank_cd else search_many
        t0 = time.perf_counter()
        with self.ctx.tracer.span("query.topk", fn.__name__):
            rows = fn(self.spark, self.index, [q.text for q in qs], k=K,
                      mode="tsquery").collect()
        dt = time.perf_counter() - t0
        if not warm and rank_cd:
            self.rank_batch_ms.append(dt * 1e3)
        elif not warm:
            self.batch_ms.append(dt * 1e3)
            self.work += len(qs)
            self.work_s += dt
        got: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["query"], r["rank"])):
            got.setdefault(r["query"], []).append((r["docid"], r["score"]))
        return [
            f"{fn.__name__} disagrees on {q.text!r}"
            for q in qs
            if not checks.agree(got.get(q.text, []), self.answers[q], K)
        ]

    def warmup(self) -> list[str]:
        # the last two pool queries: a BM25 "or" and a rank_cd query, so
        # both batch paths are warm too
        return self.op(-2, warm=True) + self.op(-1, warm=True)

    def op(self, i: int, warm: bool = False) -> list[str]:
        q = self.pool[i % len(self.pool)]
        problems = []
        t0 = time.perf_counter()
        res = self._spark(q)
        dt = time.perf_counter() - t0
        if not warm:
            self.op_ms.append(dt * 1e3)
            self.spark_ms[q.band].append(dt * 1e3)
        self.answers[q] = res
        if q in self.oracle and not checks.agree(res, self.oracle[q], K):
            problems.append(f"search disagrees with the oracle on {q.text!r}")
        if not res:
            problems.append(f"no hits for {q.text!r}, which has a matching doc")
        # the extra serving-path queries come from those already answered
        # on the Spark path or by the oracle, so every answer is checked
        checked = list(self.oracle) + [a for a in self.answers if a not in self.oracle]
        for j in range(self.LOCAL_PER_OP):
            lq = q if j == 0 else checked[(i + 7 * j) % len(checked)]
            t0 = time.perf_counter()
            lres = self._local(lq)
            dt = time.perf_counter() - t0
            if not warm:
                self.local_ms.append(dt * 1e3)
            want = self.answers[lq] if lq in self.answers else self.oracle[lq]
            if not checks.agree(lres, want, K):
                problems.append(f"serving path disagrees on {lq.text!r}")
        pending = self.pending[q.rank_cd]
        pending.append(q)
        if len(pending) >= (self.RANK_BATCH if q.rank_cd else self.BATCH) or warm:
            problems += self._batch(pending, warm)
            pending.clear()
        return problems

    def detail(self):
        p90, n_spark = tail(self.op_ms, 90)
        p95, n_local = tail(self.local_ms, 95)
        return {
            "spark_query_p50_ms": median(self.op_ms),
            "spark_query_p90_ms": p90,
            "spark_query_samples": n_spark,
            "spark_query_p50_ms_by_band": {b: median(v) for b, v in self.spark_ms.items()},
            "local_query_p50_ms": median(self.local_ms),
            "local_query_p95_ms": p95,
            "local_query_samples": n_local,
            "batch_queries_per_s": self.work / self.work_s if self.work_s else None,
            "batch_p50_ms": median(self.batch_ms),
            "rank_batch_p50_ms": median(self.rank_batch_ms),
            "index_bytes_per_text_byte": self.sizes["index_bytes"] / self.sizes["text_bytes"],
        }


# ------------------------------------------------------------------ dedup


class Dedup(Workload):
    """``duplicate_spans``, ``repetition_signals`` and ``line_dedup``,
    each written to the ``noop`` sink, over a corpus where ~30% of docs
    share one boilerplate line.  The warm-up op collects the three
    results instead and checks them against Python recomputations."""

    name = "dedup"
    unit = "docs"
    N_DOCS = 3000
    OPS = ("duplicate_spans", "repetition_signals", "line_dedup")

    def prepare(self):
        ctx = self.ctx
        self.corpus = gen.make_corpus(ctx.seed, self.N_DOCS, boilerplate_share=0.3)
        self.src = ctx.rd.sub("corpus")
        _write_inputs(self.corpus, self.src)
        ids, texts = self.corpus.doc_id, self.corpus.text
        self.want = {
            "duplicate_spans": checks.expect_duplicate_spans(ids, texts),
            "repetition_signals": checks.expect_repetition(ids, texts),
            "line_dedup": checks.expect_line_dedup(ids, texts),
        }
        self.sizes = {
            "docs": len(self.corpus), "chars": self.corpus.chars(),
            "text_bytes": self.corpus.text_bytes(),
            "boilerplate_docs": int(self.corpus.boiler.sum()),
        }
        self.per_op_ms: dict[str, list[float]] = {n: [] for n in self.OPS}

    def bind(self):
        self.docs = self.spark.read.parquet(self.src).select("doc_id", "text")

    def _frames(self):
        from pg_cjk_parser_spark.ops.dedup import duplicate_spans
        from pg_cjk_parser_spark.ops.textstats import repetition_signals
        from pg_cjk_parser_spark.ops.web import line_dedup

        return {
            "duplicate_spans": lambda: duplicate_spans(self.docs),
            "repetition_signals": lambda: repetition_signals(self.docs),
            "line_dedup": lambda: line_dedup(self.docs),
        }

    def warmup(self) -> list[str]:
        problems = []
        for name, make in self._frames().items():
            rows = make().collect()
            want = self.want[name]
            if name == "duplicate_spans":
                got = {r["doc_id"]: r["n_dup_spans"] for r in rows}
                ok = got == want
            elif name == "repetition_signals":
                got = {r["doc_id"]: (r["dup2_frac"], r["top2_frac"], r["dup3_frac"],
                                     r["top3_frac"]) for r in rows}
                ok = got.keys() == want.keys() and all(
                    checks.close(got[d], want[d]) for d in want
                )
            else:
                got = {r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_dedup"]) for r in rows}
                ok = got == want
            if not ok:
                problems.append(f"{name} output differs from the recomputation")
        return problems

    def op(self, i: int, warm: bool = False) -> list[str]:
        total = 0.0
        for name, make in self._frames().items():
            t0 = time.perf_counter()
            with self.ctx.tracer.span("ops", name):
                make().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            total += dt
            if not warm:
                self.per_op_ms[name].append(dt * 1e3)
        if not warm:
            self.op_ms.append(total * 1e3)
            self.work += self.N_DOCS
            self.work_s += total
        return []

    def detail(self):
        return {
            "dedup_docs_per_s": self.work / self.work_s if self.work_s else None,
            "per_operator_p50_ms": {n: median(v) for n, v in self.per_op_ms.items()},
        }


WORKLOADS = {w.name: w for w in (Build, Query, Dedup)}
