"""Searcher-cache twins (index/caches.py): filterCache docset reuse,
queryResultCache window/cap policy, documentCache point lookups —
every cached page must equal the uncached engine page bit-for-bit."""

import pytest
from pyspark.sql import functions as F

from parser_indexer_py_spark.datagen import generate_transcripts
from parser_indexer_py_spark.index.boolean import boolean_search
from parser_indexer_py_spark.index.build import build_index
from parser_indexer_py_spark.index.caches import LRUCache, SearcherCaches
from parser_indexer_py_spark.index.search import load_index

N_CONVS = 40


@pytest.fixture(scope="module")
def cindex(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cidx"))
    df = generate_transcripts(spark, N_CONVS, partitions=4)
    build_index(spark, df, out, n_partitions=4, n_chunks=1)
    return load_index(spark, out)


def _page(df):
    return [
        (r["doc_id"], r["score"], r["conv_id"], r["turn_idx"], r["role"])
        for r in df.collect()
    ]


def test_lru_semantics():
    evicted = []
    c = LRUCache(2, on_evict=evicted.append)
    c.put("a", 1)
    c.put("b", 2)
    assert c.get("a") == 1  # refresh a
    c.put("c", 3)  # evicts b (LRU)
    assert evicted == [2]
    from parser_indexer_py_spark.index.caches import _MISSING

    assert c.get("b") is _MISSING
    assert c.stats == {
        "size": 2, "hits": 1, "misses": 1, "inserts": 3, "evictions": 1,
    }
    # overwrite evicts the displaced value
    c.put("a", 9)
    assert 1 in evicted


def test_cached_page_equals_engine(cindex):
    caches = SearcherCaches()
    for q, fq in [
        ("bace cedi", None),
        ("bace +cedi -wedi", None),
        ("bace", "role:assistant"),
        ("bace cedi", "cedi"),
    ]:
        exp = _page(
            boolean_search(cindex, q, k=10, fq=fq, with_meta=True)
        )
        got = _page(caches.search(cindex, q, rows=10, fq=fq))
        assert got == exp, (q, fq)
    caches.invalidate()


def test_query_result_window_and_hits(cindex):
    caches = SearcherCaches(window=20, max_docs_cached=200)
    q = "bace cedi"
    p0 = _page(caches.search(cindex, q, rows=5, start=0))
    assert caches.query_result_cache.stats["inserts"] == 1
    # the windowed superset was collected: 20 ids cached for a 5-row page
    entry = caches.query_result_cache._d[(q, (), "full", "OR", None)]
    assert len(entry["page"]) == 20 and not entry["exhausted"]
    # pages inside the window are cache hits (no new insert)
    p1 = _page(caches.search(cindex, q, rows=5, start=5))
    p2 = _page(caches.search(cindex, q, rows=10, start=10))
    assert caches.query_result_cache.stats["inserts"] == 1
    assert caches.query_result_cache.stats["hits"] >= 2
    # and equal the engine's offset pages
    eng = _page(boolean_search(cindex, q, k=20, with_meta=True))
    assert p0 == eng[:5] and p1 == eng[5:10] and p2 == eng[10:20]
    # beyond the window: superset re-collected (one more insert), equal
    p3 = _page(caches.search(cindex, q, rows=10, start=15))
    assert caches.query_result_cache.stats["inserts"] == 2
    eng40 = _page(boolean_search(cindex, q, k=40, with_meta=True))
    assert p3 == eng40[15:25]


def test_exhausted_match_set_serves_deep_pages(cindex):
    caches = SearcherCaches(window=20, max_docs_cached=200)
    # a rare conjunction: match set smaller than the window
    q = "+bace +rikizudi"
    full = _page(boolean_search(cindex, q, k=1000, with_meta=True))
    assert 0 < len(full) < 20
    got = _page(caches.search(cindex, q, rows=10))
    assert got == full[:10]
    entry = caches.query_result_cache._d[(q, (), "full", "OR", None)]
    assert entry["exhausted"]
    # a page past the end never relaunches the search
    inserts = caches.query_result_cache.stats["inserts"]
    deep = _page(caches.search(cindex, q, rows=10, start=len(full) + 5))
    assert deep == [] and caches.query_result_cache.stats["inserts"] == inserts


def test_filter_cache_reuse_and_eviction(cindex):
    caches = SearcherCaches(filter_size=1)
    # same fq under two different q: one evaluation, one hit
    caches.search(cindex, "bace", rows=5, fq="role:assistant")
    caches.search(cindex, "cedi", rows=5, fq="role:assistant")
    assert caches.filter_cache.stats["hits"] == 1
    assert caches.filter_cache.stats["inserts"] == 1
    ds = caches.filter_cache._d[("role:assistant", "OR", (), None)]
    assert ds.storageLevel.useMemory or ds.storageLevel.useDisk
    # a second fq evicts the first (size=1) and unpersists it
    caches.search(cindex, "bace", rows=5, fq="role:user")
    assert caches.filter_cache.stats["evictions"] == 1
    assert ds.storageLevel.useMemory is False  # unpersisted on eviction
    # the docset equals the raw filter evaluation
    ds2 = caches.filter_docset(cindex, "role:user")
    exp = {
        r["doc_id"]
        for r in cindex.docmap.filter(F.col("role") == "user")
        .select("doc_id")
        .collect()
    }
    assert {r["doc_id"] for r in ds2.collect()} == exp
    caches.invalidate()


def test_document_cache_point_lookup(cindex):
    caches = SearcherCaches()
    caches.search(cindex, "bace", rows=10)
    m1 = caches.document_cache.stats["misses"]
    assert m1 == 10
    # overlapping page: previously fetched docs come from the cache
    caches.search(cindex, "bace", rows=10)
    assert caches.document_cache.stats["misses"] == m1
    assert caches.document_cache.stats["hits"] == 10


def test_beyond_cap_bypasses_cache(cindex):
    caches = SearcherCaches(window=20, max_docs_cached=200)
    got = _page(caches.search(cindex, "bace", rows=10, start=195))
    assert caches.query_result_cache.stats["inserts"] == 0
    exp = _page(boolean_search(cindex, "bace", k=205, with_meta=True))[
        195:205
    ]
    assert got == exp


def test_require_param_engine_equivalence(cindex):
    """boolean_search(require=docset) == boolean_search(fq=...) on both
    the delegable and clause-evaluator paths."""
    caches = SearcherCaches()
    ds = caches.filter_docset(cindex, "role:assistant")
    for q in ["bace cedi", "bac* wedi"]:  # delegable / clause path
        a = _page(
            boolean_search(cindex, q, k=10, fq="role:assistant")
        )
        b = _page(boolean_search(cindex, q, k=10, require=ds))
        assert a == b, q
    caches.invalidate()


def test_warming_primes_caches(cindex):
    """QuerySenderListener twin: static warming queries prime the
    queryResultCache so the first user request is a pure cache hit."""
    caches = SearcherCaches()
    ran = caches.warm(
        cindex,
        ["bace cedi", {"q": "bace", "fq": "role:assistant", "rows": 5}],
    )
    assert ran == 2
    inserts = caches.query_result_cache.stats["inserts"]
    assert inserts == 2
    got = _page(caches.search(cindex, "bace cedi", rows=10))
    # served from the warmed window: no new insert, one hit
    assert caches.query_result_cache.stats["inserts"] == inserts
    assert got == _page(boolean_search(cindex, "bace cedi", k=10))


def test_select_rides_filter_cache(cindex):
    """select(caches=...) routes fq through the filterCache on BOTH
    paths (fast relevance page and facet-forced match set) — pages and
    facets equal the uncached select bit-for-bit, with one filter
    evaluation across all four requests."""
    from parser_indexer_py_spark.index.boolean import select

    caches = SearcherCaches()
    fq = "role:assistant"
    for kw in [{}, {"facet_field": "role"}]:
        plain = select(cindex, q="bace cedi", rows=5, fq=fq, **kw)
        cached = select(
            cindex, q="bace cedi", rows=5, fq=fq, caches=caches, **kw
        )
        assert _page(cached["response"]) == _page(plain["response"]), kw
        if kw:
            a = [(r["role"], r["n"]) for r in plain["facets"].collect()]
            b = [(r["role"], r["n"]) for r in cached["facets"].collect()]
            assert a == b
    assert caches.filter_cache.stats["inserts"] == 1
    assert caches.filter_cache.stats["hits"] >= 1
    caches.invalidate()


def test_cached_datemath_fq_threads_now(cindex):
    """ADVICE r5 (boolean.py:1465): a date-math fq on the CACHED path
    must resolve NOW from the caller's anchor and key on the resolved
    instant — two different NOW= anchors are two different filters, and
    each cached page equals its uncached engine page bit-for-bit."""
    from datetime import datetime, timezone

    caches = SearcherCaches()
    fq = "ts:[NOW-150DAYS TO NOW]"
    now1 = datetime(2025, 6, 1, tzinfo=timezone.utc)
    now2 = datetime(2025, 12, 1, tzinfo=timezone.utc)
    eng1 = _page(
        boolean_search(cindex, "bace", k=10, fq=fq, now=now1, with_meta=True)
    )
    eng2 = _page(
        boolean_search(cindex, "bace", k=10, fq=fq, now=now2, with_meta=True)
    )
    assert eng1 != eng2  # the anchors select different windows
    got1 = _page(caches.search(cindex, "bace", rows=10, fq=fq, now=now1))
    got2 = _page(caches.search(cindex, "bace", rows=10, fq=fq, now=now2))
    assert got1 == eng1 and got2 == eng2
    # two anchors -> two filter entries and two page entries, and a
    # REPEATED anchor hits instead of re-inserting
    assert caches.filter_cache.stats["inserts"] == 2
    inserts = caches.query_result_cache.stats["inserts"]
    assert inserts == 2
    again = _page(caches.search(cindex, "bace", rows=10, fq=fq, now=now1))
    assert again == eng1
    assert caches.filter_cache.stats["inserts"] == 2
    assert caches.query_result_cache.stats["inserts"] == inserts
    # NOW-free queries keep a NOW-free key (full cacheability)
    from parser_indexer_py_spark.index.caches import _resolve_now

    assert _resolve_now(None, "bace", "role:assistant")[0] is None
    caches.invalidate()


def test_filter_cache_keys_on_index_identity(cindex, tmp_path, spark):
    """ADVICE r5 (caches.py:153): the filterCache key carries the mapped
    index IDENTITIES, not just the field names — the same fq under a
    different field_indexes wiring with identical names is a different
    key, while a reopened Index over the same root is the same key."""
    from parser_indexer_py_spark.index.caches import _fields_key

    other_dir = str(tmp_path / "other_idx")
    df = generate_transcripts(spark, 10, partitions=2)
    build_index(spark, df, other_dir, n_partitions=2, n_chunks=1)
    other = load_index(spark, other_dir)
    same_root_again = load_index(spark, cindex.paths.root)
    k_main = _fields_key({"text": cindex})
    assert _fields_key({"text": other}) != k_main
    assert _fields_key({"text": same_root_again}) == k_main


def test_select_q_and_fq_share_one_now(cindex, monkeypatch):
    """select() without NOW= resolves ONE instant per request: the q
    parse and the filterCache-routed fq resolve their date math against
    the same instant (caches.search already did)."""
    from parser_indexer_py_spark.functions import datemath
    from parser_indexer_py_spark.index.boolean import select

    seen = []
    real = datemath.parse_date_math

    def spy(expr, now):
        seen.append(now)
        return real(expr, now)

    monkeypatch.setattr(datemath, "parse_date_math", spy)
    caches = SearcherCaches()
    resp = select(
        cindex, q="bace ts:[NOW-400DAYS TO NOW]", rows=5,
        fq="ts:[NOW-150DAYS TO NOW]", caches=caches,
    )
    resp["response"].collect()
    assert len(seen) >= 4 and len(set(seen)) == 1, seen
    caches.invalidate()


def test_path_less_index_ident_is_not_recycled():
    """A path-less index (a merged view) keys the filterCache by a token
    stamped on first sight, not by id(): a new view that inherits a
    collected view's id gets a different key."""
    from parser_indexer_py_spark.index.caches import _fields_key

    class View:  # duck-typed index without on-disk paths
        pass

    v = View()
    key = _fields_key({"text": v})
    assert _fields_key({"text": v}) == key
    old = id(v)
    del v
    keep = []  # CPython hands the freed block (and its id) straight back
    while len(keep) < 1000:
        w = View()
        if id(w) == old:
            break
        keep.append(w)
    assert id(w) == old, "no recycled id to test against"
    assert _fields_key({"text": w}) != key
