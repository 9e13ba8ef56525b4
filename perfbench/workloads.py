"""The benchmark workloads. Each is a closed loop with one client that
waits for every reply before sending the next request.

A workload prepares its inputs once (``prepare``), sets itself up several
times (``setup``; the last set-up is the one measured against), runs one
request per ``step`` until the run's time is up and ``complete`` holds, then
checks every response it collected against an independent answer (``gate``,
outside the timed region). Traced runs add ``traced_extras`` (analyzer and
varint throughput on the workload's own text) and ``repeat_for_counts``
(identical calls whose Spark counts must repeat).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from parser_indexer_py_spark.catalog import TableCatalog
from parser_indexer_py_spark.datagen import TRANSCRIPT_SCHEMA
from parser_indexer_py_spark.functions.analyzer import analyze_series, analyze_text
from parser_indexer_py_spark.functions.queryparser import parse_query
from parser_indexer_py_spark.functions.varint import (
    decode_deltas,
    encode_deltas_grouped,
)
from parser_indexer_py_spark.index import wand
from parser_indexer_py_spark.index.boolean import boolean_search
from parser_indexer_py_spark.index.build import BLOCK_SIZE, build_index
from parser_indexer_py_spark.index.caches import SearcherCaches
from parser_indexer_py_spark.index.oracle import BM25Oracle
from parser_indexer_py_spark.index.search import load_index, search
from parser_indexer_py_spark.streaming.incremental import (
    SegmentedIndex,
    search_segments_df,
)
from parser_indexer_py_spark.streaming.merged import MergedSegmentsView

from . import corpus
from .harness import dir_bytes, dir_files, median

K = 10

# Every per-layer metric a traced run reports, with its unit. A layer the
# workload does not exercise reports 0.
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "catalog.write_s": "s",
    "datagen.gen_s": "s",
    "build.docmap_s": "s", "build.postings_s": "s", "build.termstats_s": "s",
    "build.globals_s": "s",
    "build.jobs": "count", "build.stages": "count", "build.tasks": "count",
    "build.files_written": "count",
    "build.postings_bytes": "B", "build.docmap_bytes": "B",
    "build.termstats_bytes": "B", "build.stage_bytes": "B",
    "analyzer.tokens_per_s": "1/s",
    "varint.encode_mb_per_s": "MB/s", "varint.decode_mb_per_s": "MB/s",
    "search.full_s": "s", "search.jobs_per_query": "count",
    "search.tasks_per_query": "count", "search.postings_scanned": "count",
    "wand.pruned_s": "s", "wand.jobs_per_query": "count",
    "wand.pass1": "count", "wand.pass2": "count", "wand.fallback": "count",
    "wand.cutover": "count", "wand.certified_frac": "frac",
    "queryparser.parse_s": "s", "boolean.select_s": "s",
    "caches.query_result.hit_ratio": "frac", "caches.filter.hit_ratio": "frac",
    "caches.document.hit_ratio": "frac", "caches.evictions": "count",
    "caches.hit_s": "s", "caches.miss_s": "s",
    "segments.append_s": "s", "segments.jobs_per_append": "count",
    "segments.count": "count", "merged.search_s": "s",
    "merged.jobs_per_query": "count",
    "segments.compact_s": "s", "segments.compact_bytes_rewritten": "B",
    "query.samples": "count", "trace.overhead_s": "s",
    "trace.unstable_counts": "count",
}


def _pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _manifest_stage_seconds(root: str) -> dict:
    with open(os.path.join(root, "manifest.json")) as f:
        recs = json.load(f)
    sec = {"docmap": 0.0, "postings": 0.0, "termstats": 0.0, "globals": 0.0}
    for r in recs:
        stage = "postings" if r["stage"].startswith("postings_chunk_") else r["stage"]
        if stage in sec:
            sec[stage] += float(r.get("seconds", 0.0))
    return sec


def _index_sizes(root: str) -> dict:
    return {
        "build.postings_bytes": dir_bytes(os.path.join(root, "postings")),
        "build.docmap_bytes": dir_bytes(os.path.join(root, "docmap")),
        "build.termstats_bytes": dir_bytes(os.path.join(root, "termstats")),
        "build.stage_bytes": dir_bytes(os.path.join(root, "_stage")),
        "build.files_written": dir_files(root),
    }


class Workload:
    name = ""
    setup_reps = 3
    query_kinds: frozenset = frozenset()  # request kinds that are queries

    def __init__(self, spark, tracer, work_dir: str, seed: int, tiny: bool):
        self.spark = spark
        self.tracer = tracer
        self.dir = work_dir
        self.seed = seed
        self.tiny = tiny
        self.rng = np.random.default_rng(seed)
        self.ops: list[dict] = []  # one record per timed request
        self.gen_s = 0.0
        self.catalog_write_s: list[float] = []
        self.build_stats: list[dict] = []  # manifest seconds + sizes per build
        self.corpus_pdf: pd.DataFrame | None = None

    def warm_up(self) -> None:
        """Workload-specific warm-up after the session's first jobs."""

    def prepare(self) -> None:
        """One-time work before the repeated set-ups."""

    # -- shared pieces --------------------------------------------------------
    def _generate(self, **kw) -> pd.DataFrame:
        t0 = time.perf_counter()
        pdf = corpus.transcripts(self.seed, **kw)
        self.gen_s += time.perf_counter() - t0
        return pdf

    def _materialise(self, pdf: pd.DataFrame, table: str, **kw):
        """Write the generated rows through a fresh table catalog; builds
        read them back from there, so generation is never inside a timing."""
        n = len(self.catalog_write_s)
        cat = TableCatalog(self.spark, os.path.join(self.dir, f"catalog-{n}"))
        t0 = time.perf_counter()
        with self.tracer.span("catalog.TableCatalog.overwrite"):
            cat.overwrite(
                self.spark.createDataFrame(pdf, self._schema(pdf)), table, **kw
            )
        self.catalog_write_s.append(time.perf_counter() - t0)
        return cat

    @staticmethod
    def _schema(pdf: pd.DataFrame):
        from pyspark.sql import types as T

        fields = list(TRANSCRIPT_SCHEMA.fields)
        if "batch" in pdf.columns:
            fields.append(T.StructField("batch", T.IntegerType(), False))
        return T.StructType(fields)

    def _record_build(self, root: str) -> None:
        stats = {f"build.{k}_s": v for k, v in _manifest_stage_seconds(root).items()}
        stats.update(_index_sizes(root))
        self.build_stats.append(stats)

    def _timed(self, kind: str, fn, **rec) -> dict:
        """Run one request; a raised error is a failed response."""
        rec["kind"] = kind
        t0 = time.perf_counter()
        try:
            with self.tracer.request(kind):
                rec["result"] = fn()
            rec["ok"] = True
        except Exception as e:  # noqa: BLE001 — a failed request is counted, not fatal
            rec["ok"] = False
            rec["error"] = repr(e)
        rec["latency"] = time.perf_counter() - t0
        self.ops.append(rec)
        return rec

    def _check(self, rec: dict, expected) -> None:
        if rec["ok"] and rec["result"] != expected:
            rec["ok"] = False
            rec["error"] = f"expected {expected!r:.300}, got {rec['result']!r:.300}"

    @staticmethod
    def _query_metrics(lat: list[float]) -> dict:
        return {
            "query_p50_s": median(lat),
            "query_qps": len(lat) / sum(lat) if lat else 0.0,
        }

    # -- the per-layer probes every traced run makes ---------------------------
    def traced_extras(self) -> dict:
        texts = self.corpus_pdf["text"]
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            toks = analyze_series(texts)
            rates.append(int(toks.str.len().sum()) / (time.perf_counter() - t0))
        # postings blocks of this corpus, encoded the way the build encodes
        # them (one grouped pass) and decoded the way a query decodes them
        # (one call per block)
        postings: dict[str, list[int]] = {}
        for d, ts in enumerate(toks):
            for t in set(ts):
                postings.setdefault(t, []).append(d)
        values, starts, lens = [], [], []
        n = 0
        for docs in postings.values():
            for i in range(0, len(docs), BLOCK_SIZE):
                block = docs[i:i + BLOCK_SIZE]
                starts.append(n)
                lens.append(len(block))
                values.extend(block)
                n += len(block)
        values = np.asarray(values, dtype=np.int64)
        starts = np.asarray(starts, dtype=np.int64)
        enc_rates, dec_rates = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            bufs = encode_deltas_grouped(values, starts)
            t1 = time.perf_counter()
            for b, m in zip(bufs, lens):
                decode_deltas(b, m)
            t2 = time.perf_counter()
            mb = sum(len(b) for b in bufs) / 1e6
            enc_rates.append(mb / (t1 - t0))
            dec_rates.append(mb / (t2 - t1))
        return {
            "analyzer.tokens_per_s": median(rates),
            "varint.encode_mb_per_s": median(enc_rates),
            "varint.decode_mb_per_s": median(dec_rates),
        }

    def build_layer_metrics(self, span_name: str) -> dict:
        out = {}
        if self.build_stats:
            for k in self.build_stats[0]:
                out[k] = median(b[k] for b in self.build_stats)
        for c in ("jobs", "stages", "tasks"):
            out[f"build.{c}"] = self.tracer.count_median(span_name, c)
        return out


# ============================================================ search_mix
class SearchMix(Workload):
    """A seeded query stream over a prebuilt, cached, warmed topical index:
    full BM25, block-max pruned, role/fq boolean, and cached page clicks.

    Before the set-ups it makes the bulk-build measurement: one
    from-scratch ``build_index(resume=False)`` of the corpus read back
    through the table catalog, timed apart from generation and
    materialisation."""

    name = "search_mix"
    cycle = ("full", "page", "pruned", "page", "boolean", "page")
    query_kinds = frozenset(cycle)

    def warm_up(self) -> None:
        """JIT-warm the build path on a small corpus, so the measured build
        times the build, not the JVM compiling it (which swung it by more
        than 10 % from run to run)."""
        root = os.path.join(self.dir, "warm-up")
        pdf = corpus.transcripts(0, 600, topical=0.5, min_tokens=16)
        build_index(self.spark, self.spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA),
                    root, resume=False, n_chunks=1)
        shutil.rmtree(root)

    def prepare(self) -> None:
        """Generate the corpus, write it through the table catalog and
        build the index from it once; the build is this workload's ingest
        measurement."""
        self.n_turns = n_turns = 600 if self.tiny else 4000
        self.corpus_pdf = self._generate(n_turns=n_turns, topical=0.5, min_tokens=16)
        self.text_bytes = corpus.text_bytes(self.corpus_pdf)
        self.df = corpus.doc_freqs(self.corpus_pdf)
        self._make_streams(corpus.df_bands(self.df, n_turns))
        cat = self._materialise(self.corpus_pdf, "corpus")
        self.idx_dir = os.path.join(self.dir, "index")
        t0 = time.perf_counter()
        with self.tracer.span("index.build.build_index", key=("corpus", n_turns)):
            build_index(self.spark, cat.read("corpus"), self.idx_dir,
                        resume=False, n_chunks=1)
        idx = load_index(self.spark, self.idx_dir)
        self.build_s = time.perf_counter() - t0
        if idx.n_docs != n_turns:
            raise RuntimeError(f"build indexed {idx.n_docs} of {n_turns} turns")
        self._record_build(self.idx_dir)
        # one request of every kind compiles the query paths, so the set-ups
        # time opening and warming the index, not JIT compilation
        q, fq = self.page_pool[0]
        search(idx, q, k=K, mode="pruned", full_cutover=0).collect()
        boolean_search(idx, self.bool_pool[0][0], k=K, role="user").collect()
        SearcherCaches().search(idx, q, rows=K, fq=fq).collect()
        self.idx = None

    def setup(self) -> None:
        """Open the built index, pin it in memory and warm it and a fresh
        set of searcher caches."""
        if self.idx is not None:
            self.caches.invalidate()
            self.idx.uncache()
        self.idx = load_index(self.spark, self.idx_dir).cache()
        self.caches = SearcherCaches(query_result_size=4, document_size=128)
        with self.tracer.span("warm"):
            search(self.idx, self.term_pool[0], k=K).collect()
            q, fq = self.page_pool[0]
            self.caches.warm(self.idx, [{"q": q, "fq": fq}])
        self.caches_base = self.caches.stats

    def complete(self) -> bool:
        """Whole cycles only, so every run has the same request mix."""
        return len(self.ops) >= len(self.cycle) and len(self.ops) % len(self.cycle) == 0

    def _make_streams(self, bands: dict) -> None:
        rng = self.rng
        self.term_pool = corpus.term_queries(rng, bands, 8)
        roles = ["user", "assistant"]
        self.bool_pool = []
        for i, q in enumerate(corpus.term_queries(rng, bands, 6)):
            terms = q.split()
            q = "+" + " ".join(terms) if len(terms) > 1 else q
            role = roles[i % 2]
            # alternate the two ways a caller restricts by role
            self.bool_pool.append((q, role, i % 4 < 2))
        self.page_pool = [
            (q, f"role:{roles[i % 2]}")
            for i, q in enumerate(corpus.term_queries(rng, bands, 6))
        ]
        # which pool entry each request takes follows one fixed Zipf-shaped
        # sequence, the same for every seed: the seed picks the terms, and
        # cache hits and misses fall at the same places in every run
        order = np.random.default_rng(0)
        n = 4096
        self.term_picks = iter(corpus.zipf_picks(order, len(self.term_pool), n))
        self.bool_picks = iter(corpus.zipf_picks(order, len(self.bool_pool), n))
        self.page_picks = iter(corpus.zipf_picks(order, len(self.page_pool), n))
        self.page_nums = iter(corpus.zipf_picks(order, 3, n, s=1.5))
        self._n = 0

    def step(self) -> None:
        kind = self.cycle[self._n % len(self.cycle)]
        self._n += 1
        getattr(self, f"_{kind}")()

    def _full(self, q=None) -> None:
        q = q or self.term_pool[next(self.term_picks)]

        def run():
            with self.tracer.span("index.search.search", key=("full", q)):
                return _pairs(search(self.idx, q, k=K).collect())

        self._timed("full", run, q=q,
                    postings=sum(self.df.get(t, 0) for t in set(analyze_text(q))))

    def _pruned(self, q=None) -> None:
        q = q or self.term_pool[next(self.term_picks)]
        before = dict(wand.PRUNE_STATS)

        def run():
            with self.tracer.span("index.wand.search_pruned", key=("pruned", q)):
                return _pairs(
                    search(self.idx, q, k=K, mode="pruned", full_cutover=0).collect()
                )

        rec = self._timed("pruned", run, q=q)
        rec["prune"] = {k: wand.PRUNE_STATS[k] - before[k] for k in before}

    def _boolean(self) -> None:
        q, role, as_fq = self.bool_pool[next(self.bool_picks)]

        def run():
            with self.tracer.span("functions.queryparser.parse_query", key=q):
                parse_query(q)
            with self.tracer.span("index.boolean.boolean_search", key=("bool", q, role, as_fq)):
                if as_fq:
                    df = boolean_search(self.idx, q, k=K, fq=f"role:{role}")
                else:
                    df = boolean_search(self.idx, q, k=K, role=role)
                return _pairs(df.collect())

        self._timed("boolean", run, q=q, role=role)

    def _page(self) -> None:
        q, fq = self.page_pool[next(self.page_picks)]
        page = 1 + next(self.page_nums)
        inserts0 = self.caches.query_result_cache.inserts

        def run():
            with self.tracer.span("index.caches.SearcherCaches.search"):
                return _pairs(self.caches.search(
                    self.idx, q, rows=K, start=(page - 1) * K, fq=fq
                ).collect())

        rec = self._timed("page", run, q=q, role=fq.split(":")[1], page=page)
        # a hit served the page without running the engine
        rec["hit"] = self.caches.query_result_cache.inserts == inserts0

    def repeat_for_counts(self) -> None:
        """Traced runs only: repeat the first call of each engine kind twice
        more, so its Spark counts can be compared across identical calls."""
        firsts = {}
        for r in self.ops:
            firsts.setdefault(r["kind"], r)
        n = len(self.ops)
        for _ in range(2):
            if "full" in firsts:
                self._full(firsts["full"]["q"])
            if "pruned" in firsts:
                self._pruned(firsts["pruned"]["q"])
        del self.ops[n:]  # the repeats feed the count check, not the metrics

    def gate(self) -> None:
        dm = self.idx.docmap.select("doc_id", "text", "role").toPandas()
        oracle = BM25Oracle.from_pandas(dm)
        full_answers = {r["q"]: r["result"] for r in self.ops
                        if r["kind"] == "full" and r["ok"]}
        for rec in self.ops:
            kind = rec["kind"]
            if kind == "full":
                self._check(rec, oracle.search(rec["q"], K))
            elif kind == "pruned":
                expected = oracle.search(rec["q"], K)
                self._check(rec, expected)
                # rank identity with the full path (run it if the stream did not)
                full = full_answers.get(rec["q"])
                if full is None:
                    full = _pairs(search(self.idx, rec["q"], k=K).collect())
                    full_answers[rec["q"]] = full
                self._check(rec, full)
            elif kind == "boolean":
                self._check(rec, oracle.boolean_search(rec["q"], K, role=rec["role"]))
            elif kind == "page":
                start = (rec["page"] - 1) * K
                self._check(rec, oracle.boolean_search(
                    rec["q"], start + K, role=rec["role"]
                )[start:])

    def end_to_end(self) -> dict:
        out = {
            "ingest_turns_per_s": self.n_turns / self.build_s,
            "commit_p50_s": self.build_s,
            "index_bytes_per_text_byte": dir_bytes(self.idx_dir) / self.text_bytes,
        }
        out.update(self._query_metrics([r["latency"] for r in self.ops]))
        return out

    def per_layer(self) -> dict:
        tr = self.tracer
        out = self.build_layer_metrics("index.build.build_index")
        full = tr.named("index.search.search")
        pruned = tr.named("index.wand.search_pruned")
        out.update({
            "search.full_s": tr.self_median("index.search.search"),
            "search.jobs_per_query": median(s["jobs"] for s in full),
            "search.tasks_per_query": median(s["tasks"] for s in full),
            "search.postings_scanned": median(
                r["postings"] for r in self.ops if r["kind"] == "full"
            ),
            "wand.pruned_s": tr.self_median("index.wand.search_pruned"),
            "wand.jobs_per_query": median(s["jobs"] for s in pruned),
            "queryparser.parse_s": tr.self_median("functions.queryparser.parse_query"),
            "boolean.select_s": tr.self_median("index.boolean.boolean_search"),
        })
        prune = [r["prune"] for r in self.ops if r["kind"] == "pruned"]
        for k in ("pass1", "pass2", "fallback", "cutover"):
            out[f"wand.{k}"] = sum(p[k] for p in prune)
        out["wand.certified_frac"] = (
            (out["wand.pass1"] + out["wand.pass2"]) / len(prune) if prune else 0.0
        )
        stats, base = self.caches.stats, self.caches_base
        evictions = 0
        for name in ("query_result", "filter", "document"):
            h = stats[name]["hits"] - base[name]["hits"]
            m = stats[name]["misses"] - base[name]["misses"]
            out[f"caches.{name}.hit_ratio"] = h / (h + m) if h + m else 0.0
            evictions += stats[name]["evictions"] - base[name]["evictions"]
        out["caches.evictions"] = evictions
        pages = [r for r in self.ops if r["kind"] == "page"]
        out["caches.hit_s"] = median(r["latency"] for r in pages if r["hit"])
        out["caches.miss_s"] = median(r["latency"] for r in pages if not r["hit"])
        return out


# =========================================================== live_ingest
class LiveIngest(Workload):
    """Micro-batch appends into a segmented index, each followed by merged-
    view queries; a tiered compaction step runs inline every few appends.
    Segments are read from disk, never cached."""

    name = "live_ingest"
    query_kinds = frozenset({"query"})
    setup_reps = 5  # a set-up is one catalog write of 16 batches, ~0.6 s
    queries_per_append = 4
    compact_every = 2

    def warm_up(self) -> None:
        """JIT-warm the build and merged-query paths on a tiny segment, so
        the first measured append is not a cold one."""
        root = os.path.join(self.dir, "warm-up")
        seg = SegmentedIndex(self.spark, root)
        pdf = corpus.transcripts(0, 300)
        seg.append_batch(self.spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA), 0)
        search_segments_df(seg, " ".join(pdf["text"][0].split()[:2]), k=K).collect()
        shutil.rmtree(root)

    def prepare(self) -> None:
        """Generate the micro-batches and draw the query stream."""
        self.batch_turns = 300 if self.tiny else 1000
        parts = [
            self._generate(n_turns=self.batch_turns, stream=b).assign(batch=np.int32(b))
            for b in range(16)  # appends past the last batch wrap around
        ]
        self.corpus_pdf = pd.concat(parts, ignore_index=True)
        self.batch_text_bytes = [corpus.text_bytes(p) for p in parts]
        bands = corpus.df_bands(corpus.doc_freqs(parts[0]), self.batch_turns)
        self.queries = corpus.term_queries(self.rng, bands, 6)

    def setup(self) -> None:
        """Write the micro-batches through a fresh table catalog, one
        partition each, and open an empty segment root."""
        self.catalog = self._materialise(
            self.corpus_pdf, "stream", partition_by=["batch"]
        )
        root = os.path.join(self.dir, f"segments-{len(self.catalog_write_s)}")
        self.seg = SegmentedIndex(self.spark, root)
        self.n_appended = 0
        self.compactions: list[dict] = []
        self._q = 0
        self._plan: list[str] = []

    def complete(self) -> bool:
        """At least two appends, their queries and one compaction step."""
        return any(r["kind"] == "compact" for r in self.ops)

    def step(self) -> None:
        """One request of the schedule: append, its queries, and a tiered
        compaction step after every ``compact_every``-th append."""
        if not self._plan:
            self._plan = ["append"] + ["query"] * self.queries_per_append
            if (self.n_appended + 1) % self.compact_every == 0:
                self._plan.append("compact")
        getattr(self, "_" + self._plan.pop(0))()

    def _append(self) -> None:
        from pyspark.sql import functions as F

        b = self.n_appended
        batch = (
            self.catalog.read("stream")
            .filter(F.col("batch") == b % len(self.batch_text_bytes))
            .drop("batch")
        )

        def append():
            with self.tracer.span("streaming.incremental.append_batch",
                                  key=("batch_turns", self.batch_turns)):
                self.seg.append_batch(batch, b)
            return sum(c["n_docs"] for c in self.seg.commits())

        rec = self._timed("append", append, turns=self.batch_turns)
        self.n_appended += 1
        self._check(rec, self.n_appended * self.batch_turns)
        if rec["ok"]:
            self._record_build(self.seg.commits()[-1]["dir"])

    def _query(self, q=None) -> None:
        q = q or self.queries[self._q % len(self.queries)]
        self._q += 1
        commits = self.seg.commits()
        prefix = sum(c["n_docs"] for c in commits)

        def run():
            with self.tracer.span("streaming.incremental.search_segments_df",
                                  key=(q, len(commits), prefix)):
                return _pairs(search_segments_df(self.seg, q, k=K).collect())

        self._timed("query", run, q=q, prefix=prefix, segments=len(commits))

    def _compact(self) -> None:
        def run():
            with self.tracer.span("streaming.incremental.compact_tiered"):
                rec = self.seg.compact_tiered()
            return rec and dir_bytes(rec["dir"])

        rec = self._timed("compact", run)
        if rec["ok"] and rec["result"]:
            self.compactions.append(rec)

    def repeat_for_counts(self) -> None:
        """Traced runs only: repeat the last merged query twice more."""
        n = len(self.ops)
        last = [r for r in self.ops if r["kind"] == "query"][-1]
        for _ in range(2):
            self._query(last["q"])
        del self.ops[n:]

    def gate(self) -> None:
        view = MergedSegmentsView(self.seg)
        dm = view.docmap.select("doc_id", "text", "role").toPandas()
        docs = {int(d): analyze_text(t) for d, t in zip(dm["doc_id"], dm["text"])}
        roles = dict(zip(dm["doc_id"].astype(int), dm["role"]))
        oracles = {}
        for rec in self.ops:
            if rec["kind"] != "query":
                continue
            p = rec["prefix"]
            if p not in oracles:
                oracles[p] = BM25Oracle(
                    {d: t for d, t in docs.items() if d < p}, roles
                )
            self._check(rec, oracles[p].search(rec["q"], K))

    def end_to_end(self) -> dict:
        appends = [r["latency"] for r in self.ops if r["kind"] == "append"]
        ingest_s = sum(r["latency"] for r in self.ops
                       if r["kind"] in ("append", "compact"))
        n = len(self.batch_text_bytes)
        text = sum(self.batch_text_bytes[b % n] for b in range(self.n_appended))
        out = {
            "ingest_turns_per_s": self.batch_turns * len(appends) / ingest_s,
            "commit_p50_s": median(appends),
            "index_bytes_per_text_byte": dir_bytes(self.seg.root) / text,
        }
        out.update(self._query_metrics(
            [r["latency"] for r in self.ops if r["kind"] == "query"]
        ))
        return out

    def per_layer(self) -> dict:
        tr = self.tracer
        out = self.build_layer_metrics("streaming.incremental.append_batch")
        q = tr.named("streaming.incremental.search_segments_df")
        out.update({
            "segments.append_s": tr.self_median("streaming.incremental.append_batch"),
            "segments.jobs_per_append": tr.count_median(
                "streaming.incremental.append_batch", "jobs"),
            "segments.count": median(
                r["segments"] for r in self.ops if r["kind"] == "query"),
            "merged.search_s": tr.self_median("streaming.incremental.search_segments_df"),
            "merged.jobs_per_query": median(s["jobs"] for s in q),
            "search.full_s": tr.self_median("streaming.incremental.search_segments_df"),
            "search.jobs_per_query": median(s["jobs"] for s in q),
            "search.tasks_per_query": median(s["tasks"] for s in q),
            "segments.compact_s": median(r["latency"] for r in self.compactions),
            "segments.compact_bytes_rewritten": sum(
                r["result"] for r in self.compactions),
        })
        return out


WORKLOADS = {w.name: w for w in (SearchMix, LiveIngest)}
