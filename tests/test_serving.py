"""Phase-5 serving tier: reference route parity over the mirror."""

from __future__ import annotations

import json
import tempfile
import urllib.request

import pytest
from pyspark import StorageLevel

from lawlm_spark.localdata import local_rows
from lawlm_spark.plans.rag import ingest_documents, rag_answer
from lawlm_spark.serving import RagService, serve
from lawlm_spark.sources.mirror import write_mirror


def _fake_fetch(url: str) -> bytes:
    if url.endswith("missing.pdf"):
        raise OSError("404 not found")
    return f"fakepdf::{url}".encode()


def _fake_extract(data: bytes) -> str:
    return f"Page one of {data.decode().split('::')[1]}.\nPage two.\n"


def _mirror(docs) -> str:
    chunks, postings = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    base = tempfile.mkdtemp(prefix="serving_mirror_")
    write_mirror(chunks, base + "/chunks")
    write_mirror(postings, base + "/postings")
    return base


@pytest.fixture(scope="module")
def service(spark, docs):
    base = _mirror(docs)
    svc = RagService(
        spark, base + "/chunks", base + "/postings",
        case_fetcher=_fake_fetch, pdf_extractor=_fake_extract,
    )
    yield svc
    svc.close()


@pytest.fixture(scope="module")
def server(service):
    httpd, _ = serve(service)
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read())


def _post(url, payload):
    req = urllib.request.Request(
        url, json.dumps(payload).encode(), {"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def test_health(server):
    assert _get(server + "/health")["status"] == "healthy"


def test_collection_info(server):
    info = _get(server + "/collection/info")
    assert info["points_count"] > 0
    assert info["points_count"] == info["distinct_keys"]


def test_query_route(server):
    # rp_lsh is the serving default since r5 (certified d8b/r4_hybrid_ann)
    out = _post(server + "/query", {"question": "fast table scan join", "limit": 3})
    assert out["search_type"] == "hybrid_rrf_rp_lsh"
    assert out["documents_found"] > 0
    assert out["summary"].startswith("[fake-llm ")
    assert len(out["sources"]) <= 3 and out["processing_time"] > 0


def test_query_brute_opt_in_and_default_recall(spark, service):
    """brute stays available as an opt-in baseline, and the rp_lsh
    default keeps most of the brute top-k (recall at serving defaults)."""
    brute_service = RagService.__new__(RagService)
    brute_service.__dict__.update(service.__dict__)
    brute_service.dense_retriever = "brute"
    brute_service.retriever_opts = {}
    # pool several questions (single-question top-3 overlap is too noisy
    # a recall estimate on a ~250-chunk mirror; same pooling as
    # test_pipeline's recall-at-defaults)
    questions = ["fast table scan join", "window agg stream", "customer order filter"]
    brute_pool, default_pool = set(), set()
    for q in questions:
        brute = brute_service.query(q, limit=3)
        assert brute["search_type"] == "hybrid_rrf"
        brute_pool |= {(q, s) for s in brute["sources"]}
        default_pool |= {(q, s) for s in service.query(q, limit=3)["sources"]}
    # BM25 branch is identical; only dense candidates can drop
    assert len(default_pool & brute_pool) / len(brute_pool) >= 0.5


def test_bad_request(server):
    req = urllib.request.Request(
        server + "/query", b"not json", {"Content-Type": "application/json"}
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=30)
    assert e.value.code == 400


def _post_raises(url, payload):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(url, payload)
    return e.value.code


def test_non_numeric_limit_is_400(server):
    # ADVICE: limit parse must 400, not abort the connection
    assert _post_raises(server + "/query", {"question": "q", "limit": "abc"}) == 400


def test_collection_info_is_cached(server, service):
    info = _get(server + "/collection/info")
    # poison the frame: any recompute would now throw, proving the cached
    # stats row serves subsequent requests without a mirror scan
    saved, service.chunks = service.chunks, None
    try:
        assert _get(server + "/collection/info") == info
    finally:
        service.chunks = saved


def test_case_fetch(server):
    out = _post(server + "/case/fetch", {
        "download_url": "https://example.org/op/7.pdf",
        "case_name": "Case 7 v. State",
        "chunk_text": "relevant passage",
    })
    assert out["success"] is True
    assert out["case_name"] == "Case 7 v. State"
    assert out["full_text"].startswith("Page one of https://example.org/op/7.pdf.")
    assert out["text_length"] == len(out["full_text"])
    assert out["chunk_text"] == "relevant passage"


def test_case_fetch_missing_url_is_400(server):
    assert _post_raises(server + "/case/fetch", {"case_name": "X"}) == 400


def test_case_fetch_failure_is_500(server):
    assert _post_raises(
        server + "/case/fetch", {"download_url": "https://example.org/missing.pdf"}
    ) == 500


def test_case_fetch_unconfigured_is_503(server, service):
    saved, service.case_fetcher = service.case_fetcher, None
    try:
        assert _post_raises(
            server + "/case/fetch", {"download_url": "https://example.org/op/1.pdf"}
        ) == 503
    finally:
        service.case_fetcher = saved


def _stream_events(url, payload):
    req = urllib.request.Request(
        url, json.dumps(payload).encode(), {"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.headers["Content-Type"] == "text/event-stream"
        raw = r.read().decode()
    events = [e[len("data: "):] for e in raw.split("\n\n") if e.startswith("data: ")]
    assert events[-1] == "[DONE]"
    return "".join(json.loads(e) for e in events[:-1])


def test_summarize_stream(server):
    from lawlm_spark.functions.llm import fake_llm_summary_py

    summary = _stream_events(server + "/case/summarize-stream", {
        "case_name": "Case 7 v. State",
        "full_text": "The court held that the statute applies.",
        "chunk_text": "held that",
        "user_question": "What is the holding?",
    })
    expected_prompt = (
        "Case Name: Case 7 v. State\n\n"
        "User's Question: What is the holding?\n\n"
        "Relevant Passage from Search:\nheld that\n\n"
        "Full Case Text:\nThe court held that the statute applies.\n\n"
        "Please provide a comprehensive summary that answers the "
        "user's question based on this case."
    )
    assert summary == fake_llm_summary_py(expected_prompt)


def test_summarize_stream_truncates_at_12k(server):
    from lawlm_spark.functions.llm import fake_llm_summary_py
    from lawlm_spark.serving import TRUNCATION_MARKER

    long_text = "x" * 13_000
    summary = _stream_events(server + "/case/summarize-stream", {
        "case_name": "C", "full_text": long_text, "user_question": "q",
    })
    expected_prompt = (
        "Case Name: C\n\nUser's Question: q\n\n"
        "Relevant Passage from Search:\n\n\n"
        f"Full Case Text:\n{long_text[:12_000]}{TRUNCATION_MARKER}\n\n"
        "Please provide a comprehensive summary that answers the "
        "user's question based on this case."
    )
    # the md5 digest in the fake summary proves the 12k truncation rule
    # (app.py:651-654) was applied to the exact prompt
    assert summary == fake_llm_summary_py(expected_prompt)


def test_summarize_stream_missing_text_is_400(server):
    assert _post_raises(server + "/case/summarize-stream", {"case_name": "X"}) == 400


def test_query_ann_retriever_uses_cached_stats(spark, service):
    """An rp_lsh-configured service derives planes from the CACHED
    collection stats (mirror-stored-stats path) — no corpus scan at
    query time — and answers with the ANN search_type."""
    ann_service = RagService.__new__(RagService)
    ann_service.__dict__.update(service.__dict__)
    ann_service.dense_retriever = "rp_lsh"
    ann_service.retriever_opts = {}
    out = ann_service.query("fast table scan join", limit=3)
    assert out["search_type"] == "hybrid_rrf_rp_lsh"
    assert out["documents_found"] > 0


def test_malformed_content_length_is_400(server):
    # ADVICE r3: int(Content-Length) must not escape as an uncaught
    # ValueError (traceback + aborted connection); it is a plain 400.
    req = urllib.request.Request(server + "/query", b'{"question": "q"}')
    req.add_unredirected_header("Content-Length", "banana")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=30)
    assert e.value.code == 400


def test_summarize_stream_midstream_failure_emits_error_and_done(server, service):
    # A service failure after headers are sent cannot become an HTTP
    # error; the stream must still carry an error event and terminate
    # with [DONE] instead of silently truncating.
    def boom(*a, **k):
        raise RuntimeError("llm backend down")
        yield  # pragma: no cover - make it a generator

    saved, service.summarize_case_stream = service.summarize_case_stream, boom
    try:
        req = urllib.request.Request(
            server + "/case/summarize-stream",
            json.dumps({"full_text": "t", "user_question": "q"}).encode(),
            {"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            raw = r.read().decode()
    finally:
        service.summarize_case_stream = saved
    assert "event: error" in raw
    assert "llm backend down" in raw
    assert raw.rstrip().endswith("data: [DONE]")


def test_close_releases_cached_mirrors(spark, docs):
    """close() unpersists both mirrors the service cached at start.  Own
    mirror: the cache is keyed by plan, so closing a service over the
    fixture's mirror would also drop the fixture's cache."""
    base = _mirror(docs.filter("doc_id < 10"))
    svc = RagService(spark, base + "/chunks", base + "/postings")
    assert svc.chunks.storageLevel.useMemory and svc.postings.storageLevel.useMemory
    svc.close()
    assert svc.chunks.storageLevel == StorageLevel.NONE
    assert svc.postings.storageLevel == StorageLevel.NONE


# Quote, backslash, a named-marker lookalike, a comment-injection tail,
# a substitution lookalike and non-ASCII text: each must reach the plan
# as the literal question string.
HOSTILE_QUESTIONS = [
    "what's the fast table scan join?",
    "scan \\ join \\n window \\' agg",
    "order :q filter :question",
    "customer order'); DROP TABLE chunks;-- filter",
    "${x} stream window agg ${spark.sql.ansi.enabled}",
    "Schadensersatz für Verträge — 契約 scan join ü",
]


def test_query_parity_with_batch_for_hostile_questions(spark, server, service):
    """Each /query answer equals batch rag_answer over a local_rows
    question frame: the bound-parameter question frame changes nothing
    an answer shows, whatever characters the question holds."""
    n = service.collection_info()["points_count"]
    rows = rag_answer(
        service.chunks, service.postings,
        local_rows(spark, list(enumerate(HOSTILE_QUESTIONS)), "query_id long, question string"),
        k=3, dense_retriever="rp_lsh", retriever_opts={"n_vectors": n},
    ).collect()
    assert len(rows) == len(HOSTILE_QUESTIONS)
    for r in rows:
        q = HOSTILE_QUESTIONS[r["query_id"]]
        assert r["question"] == q
        out = _post(server + "/query", {"question": q, "limit": 3})
        assert out["question"] == q
        assert out["summary"] == r["summary"]
        assert out["documents_found"] == r["n_sources"]
        assert out["sources"] == (r["context"].split("\n\n") if r["context"] else [])
    assert any(r["n_sources"] > 0 for r in rows)


def test_non_string_question_is_400(server):
    for bad in (None, 7, ["scan"], {"q": "scan"}):
        assert _post_raises(server + "/query", {"question": bad}) == 400


def test_question_plan_build_round_trip_budget(spark, service, monkeypatch):
    """Building (not running) one /query plan stays within 2,500
    driver->JVM round trips: the JVM-local question frame, the one-
    literal LSH planes and no per-call origin capture.  A literal per
    plane sign with origin capture on took 3,800-4,800 here."""
    import gc

    from py4j import java_gateway

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    service.collection_info()  # stats cached: the plan build runs no job
    calls = []
    send = java_gateway.GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    gc.collect()
    monkeypatch.setattr(java_gateway.GatewayClient, "send_command", counting)
    service.answer_frame("fast table scan join", 3)
    n = len(calls)
    monkeypatch.undo()
    assert 0 < n <= 2500, n
