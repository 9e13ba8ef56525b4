"""Declared read schemas and the merged view's fixed per-query job count.

Index tables open under the read schemas declared in index/build.py
instead of inferred ones (inference costs one Spark job per read). These
tests pin three things:

- every declared schema equals an inferred read of real writer output —
  name, type, nullability and order — so a writer change fails here
  instead of silently reading null columns;
- opening an index and planning over its tables runs no Spark job, and a
  merged-view full, pruned or conjunctive query runs the same number of
  jobs at 1, 2 and 3 segments without building the view's merged
  termstats table;
- those merged-view answers stay bit-identical to BM25Oracle.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from parser_indexer_py_spark.datagen import generate_transcripts
from parser_indexer_py_spark.functions.analyzer import analyze_text
from parser_indexer_py_spark.index.build import (
    DOCMAP_SCHEMA,
    POSTINGS_READ_SCHEMA,
    TERMSTATS_SCHEMA,
    TOMBSTONES_SCHEMA,
    IndexPaths,
    build_index,
)
from parser_indexer_py_spark.index.oracle import BM25Oracle
from parser_indexer_py_spark.index.search import load_index, search
from parser_indexer_py_spark.index.update import delete_docs
from parser_indexer_py_spark.streaming.incremental import (
    SegmentedIndex,
    search_segments_df,
)
from parser_indexer_py_spark.streaming.merged import MergedSegmentsView

N_CONVS = 36


def _convs(spark, lo, hi):
    df = generate_transcripts(spark, N_CONVS, partitions=2)
    num = F.substring("conv_id", 6, 8).cast("int")
    return df.filter((num >= lo) & (num < hi))


def _jobs(spark, fn):
    """(number of Spark jobs ``fn`` launched, its result), read back from
    a fresh statusTracker job group."""
    sc = spark.sparkContext
    group = f"read-schemas-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _assert_declared(spark, root, *, tombstones=False):
    paths = IndexPaths(root)
    tables = {
        "postings": (paths.postings, POSTINGS_READ_SCHEMA),
        "termstats": (paths.termstats, TERMSTATS_SCHEMA),
        "docmap": (paths.docmap, DOCMAP_SCHEMA),
    }
    if tombstones:
        tables["tombstones"] = (paths.tombstones, TOMBSTONES_SCHEMA)
    for name, (path, declared) in tables.items():
        inferred = spark.read.parquet(path).schema
        assert inferred == declared, (
            name, inferred.simpleString(), declared.simpleString()
        )


# --------------------------------------------------------------- schemas


@pytest.mark.parametrize("positions", [False, True])
def test_build_index_matches_declared_schemas(spark, tmp_path, positions):
    root = str(tmp_path / "idx")
    build_index(spark, _convs(spark, 0, 6), root, n_chunks=1, positions=positions)
    _assert_declared(spark, root)


def test_compaction_outputs_match_declared_schemas(spark, tmp_path):
    """merge_indexes (through compact_tiered, with carried tombstones),
    delete_docs and compact() output all read back as declared."""
    seg = SegmentedIndex(spark, str(tmp_path / "segs"))
    for i, (lo, hi) in enumerate([(0, 4), (4, 8)]):
        seg.append_batch(_convs(spark, lo, hi), epoch_id=i)
    first = seg.commits()[0]["dir"]
    assert delete_docs(spark, first, [0, 1, 2]) == 3
    _assert_declared(spark, first, tombstones=True)

    rec = seg.compact_tiered()
    assert rec is not None and "compacted_from" in rec
    _assert_declared(spark, rec["dir"], tombstones=True)

    seg.append_batch(_convs(spark, 8, 12), epoch_id=2)
    rec = seg.compact()
    assert rec is not None and len(seg.commits()) == 1
    _assert_declared(spark, rec["dir"])


def test_catalog_reads_committed_schema(spark, tmp_path):
    """The Parquet-fallback catalog reads under the last committed schema
    — no inference job — in the column order inference gives (partition
    columns last)."""
    from parser_indexer_py_spark.catalog import TableCatalog

    cat = TableCatalog(spark, str(tmp_path))
    df = spark.range(6).select(
        (F.col("id") % 3).cast("int").alias("batch"),
        F.col("id").alias("x"),
        F.col("id").cast("string").alias("s"),
    )
    cat.overwrite(df, "t", partition_by=["batch"])
    n, got = _jobs(spark, lambda: cat.read("t"))
    assert n == 0
    assert got.schema == spark.read.parquet(str(tmp_path / "t")).schema
    assert got.columns == ["x", "s", "batch"]
    assert sorted(map(tuple, got.collect())) == sorted(
        (r["x"], r["s"], r["batch"]) for r in df.collect()
    )


# ------------------------------------------- job counts + rank identity


# mode -> (query, search kwargs). The pruned query is selective enough
# that every segment count takes the same branch (pass 1); with the hot
# "bace" the candidate guard sends some segment counts to full evaluation.
_MODES = {
    "full": ("bace cedi", {}),
    "pruned": ("cedi sogu", {"mode": "pruned", "full_cutover": 0}),
    "conjunctive": ("bace cedi", {"conjunctive": True}),
}


def _view_query(seg, q, kw):
    """One query on a fresh merged view: (view, rows)."""
    view = MergedSegmentsView(seg)
    rows = search(view, q, k=10, with_meta=False, **kw).collect()
    return view, rows


@pytest.fixture(scope="module")
def segs(spark, tmp_path_factory):
    """A positional segment root grown to 3 segments, with one merged-view
    query per mode (full, pruned, conjunctive) run at each segment count:
    ``{mode: [(jobs, termstats_built), ...]}``."""
    seg = SegmentedIndex(
        spark, str(tmp_path_factory.mktemp("guard_segs")), positions=True
    )
    runs = {mode: [] for mode in _MODES}
    for i, (lo, hi) in enumerate([(0, 12), (12, 24), (24, 36)]):
        seg.append_batch(_convs(spark, lo, hi), epoch_id=i)
        for mode, (q, kw) in _MODES.items():
            _view_query(seg, q, kw)  # warm
            n, (view, rows) = _jobs(spark, lambda: _view_query(seg, q, kw))
            assert rows, mode
            runs[mode].append((n, view._termstats_df is not None))
    return seg, runs


def test_opening_an_index_runs_no_job(spark, segs):
    seg, _ = segs
    root = seg.commits()[0]["dir"]

    def plan():
        idx = load_index(spark, root)
        blocks = idx.postings.filter(F.col("term") == "bace").select("term", "n")
        stats = idx.termstats.filter(F.col("term") == "bace").select("df")
        meta = idx.docmap.select("doc_id", "role")
        return [df.columns for df in (blocks, stats, meta)]

    n, cols = _jobs(spark, plan)
    assert n == 0 and cols
    view = MergedSegmentsView(seg)
    n, _ = _jobs(spark, lambda: (view.docmap.columns, view.tombstones))
    assert n == 0


def test_merged_query_jobs_do_not_grow_with_segments(segs):
    _, runs = segs
    for mode, per_count in runs.items():
        jobs = [n for n, _ in per_count]
        assert len(set(jobs)) == 1, (mode, jobs)
        # point lookups of the query's terms never build the view's
        # merged (union + groupBy) termstats table
        assert not any(built for _, built in per_count), (mode, per_count)
    assert runs["full"][0][0] <= 3, runs["full"]


def _segment_terms(spark, seg):
    """Per-segment sets of indexed terms, from each segment's docmap."""
    out = []
    for c in seg.commits():
        texts = load_index(spark, c["dir"]).docmap.select("text").collect()
        out.append({t for r in texts for t in analyze_text(r["text"])})
    return out


def test_merged_view_rank_identity(spark, segs):
    seg, _ = segs
    view = MergedSegmentsView(seg)
    dm = view.docmap.select("doc_id", "text", "role").collect()
    oracle = BM25Oracle(
        {int(r["doc_id"]): analyze_text(r["text"]) for r in dm},
        {int(r["doc_id"]): r["role"] for r in dm},
    )
    seg_terms = _segment_terms(spark, seg)
    only_last = sorted(seg_terms[-1] - seg_terms[0] - seg_terms[1])
    assert only_last, "corpus has no term unique to one segment"
    lone = only_last[0]
    absent = "zzqxzzqx"
    assert absent not in set().union(*seg_terms)

    def got(q, **kw):
        return [
            (int(r["doc_id"]), float(r["score"]))
            for r in search_segments_df(seg, q, k=10, **kw).collect()
        ]

    cases = [
        ("bace cedi", {}, {}),
        ("bace cedi", {"mode": "pruned", "full_cutover": 0}, {}),
        ("bace cedi", {"conjunctive": True}, {"conjunctive": True}),
        ("bace cedi", {"role": "user"}, {"role": "user"}),
        (f"{lone} bace", {}, {}),
        (lone, {"mode": "pruned", "full_cutover": 0}, {}),
        (f"{absent} cedi", {}, {}),
        (absent, {}, {}),
    ]
    for q, kw, okw in cases:
        assert got(q, **kw) == oracle.search(q, 10, **okw), (q, kw)
    assert got(absent) == []

    want = [(d, s) for d, s, _ in oracle.phrase_search("bace cedi", 10)]
    assert want, "phrase has no match in the corpus"
    assert got("bace cedi", phrase=True) == want
