"""Behavioral invariants for the PII / repetition / Gopher / packing
screens (value parity vs DuckDB is covered by the oracle gate; these pin
the semantic properties the oracle hash can't express)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_pii_redact_counts_and_scrub(spark):
    from pydatalake_spark.queries import QUERIES

    out = QUERIES["pii_redact"](spark, SF_DIR)
    rows = out.collect()
    assert rows, "empty result"
    for r in rows:
        # injection is derived from doc_id, so counts are predictable
        assert r.n_emails == r.doc_id % 3
        assert r.n_phones == r.doc_id % 2
        # nothing matching the PII patterns survives redaction
        assert "@mail.com" not in r.redacted
        assert "555-" not in r.redacted
        if r.doc_id % 3:
            assert "<EMAIL>" in r.redacted
        if r.doc_id % 2:
            assert "<PHONE>" in r.redacted


def test_repetition_stats_bounds(spark):
    from pydatalake_spark.queries import QUERIES

    out = QUERIES["doc_repetition_stats"](spark, SF_DIR)
    bad = out.filter(
        (F.col("dup_token_frac") < 0)
        | (F.col("dup_token_frac") >= 1)
        | (F.col("top_token_frac") * F.col("n_tokens") < 1)
        | (F.col("n_unique") > F.col("n_tokens"))
    ).count()
    assert bad == 0


def test_sequence_pack_layout(spark):
    """Within each source shard, docs in (doc_id) order tile the packs:
    offsets stay inside the budget and pack ids never decrease."""
    from pydatalake_spark.queries import QUERIES
    from pydatalake_spark.queries.text import _PACK_BUDGET

    out = QUERIES["sequence_pack"](spark, SF_DIR)
    assert (
        out.filter(
            (F.col("pack_offset") < 0) | (F.col("pack_offset") >= _PACK_BUDGET)
        ).count()
        == 0
    )
    rows = out.orderBy("source", "doc_id").collect()
    by_source: dict = {}
    for r in rows:
        prev = by_source.get(r.source)
        if prev is not None:
            assert r.pack_id >= prev.pack_id
            if r.pack_id == prev.pack_id:
                assert r.pack_offset == prev.pack_offset + prev.n_tokens
        by_source[r.source] = r


def test_gopher_flags_consistent(spark):
    from pydatalake_spark.queries import QUERIES

    out = QUERIES["gopher_quality_flags"](spark, SF_DIR)
    inconsistent = out.filter(
        F.col("passes")
        != (
            F.col("n_tokens").between(10, 100000)
            & (F.col("alpha_ratio") >= 0.8)
            & (F.col("stop_ratio") >= 0.02)
        )
    ).count()
    assert inconsistent == 0


def test_session_cache_rebuilds_on_corpus_rewrite(spark, tmp_path):
    """A per-corpus derivation re-checks a (count, mtime, size) stamp of
    the corpus dir on every hit — rewriting the corpus mid-session
    rebuilds instead of serving stale derivations (pair tables, screen
    verdicts for the old bytes)."""
    import os
    import time

    from pydatalake_spark.queries.text import corpus_memo

    sf = str(tmp_path / "corpus")
    os.makedirs(sf)
    with open(os.path.join(sf, "documents.parquet"), "wb") as f:
        f.write(b"v1-bytes")

    builds = []

    def build():
        builds.append(1)
        return f"built-{len(builds)}"

    assert corpus_memo(spark, "rebuild", sf, build) == "built-1"
    assert corpus_memo(spark, "rebuild", sf, build) == "built-1"  # hit

    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    with open(os.path.join(sf, "documents.parquet"), "wb") as f:
        f.write(b"v2-bytes-longer")

    assert corpus_memo(spark, "rebuild", sf, build) == "built-2"
    assert corpus_memo(spark, "rebuild", sf, build) == "built-2"

    # unpersistable cached values get released on rebuild (best effort)
    class FakeDF:
        unpersisted = False

        def unpersist(self):
            FakeDF.unpersisted = True

    corpus_memo(spark, "release", sf, lambda: FakeDF())
    with open(os.path.join(sf, "extra.parquet"), "wb") as f:
        f.write(b"x")
    corpus_memo(spark, "release", sf, lambda: FakeDF())
    assert FakeDF.unpersisted


def test_session_memo_policy(spark, monkeypatch):
    """The one session memo: at most MEMO_MAX entries, the least
    recently used dropped first; a DataFrame dropped by the bound or by
    a stale stamp is unpersisted; entries of another application go on
    the next touch, without a release; a memoized None is a hit; and
    SESSION_CACHE_HITS counts per-corpus derivation hits only — not
    table loads or dedup probe verdicts."""
    from pyspark.storagelevel import StorageLevel

    from pydatalake_spark import session
    from pydatalake_spark.operators.dedup import _auto_hot_keys
    from pydatalake_spark.queries.tables import load_table
    from pydatalake_spark.queries.text import SESSION_CACHE_HITS, corpus_memo

    monkeypatch.setattr(session, "_MEMO", {})
    store = session._MEMO

    class Stopped:
        released = False

        def unpersist(self):
            Stopped.released = True

    store[("app-stopped", "table", SF_DIR, "documents")] = (None, Stopped())
    bounded = spark.range(7).cache()
    memo = session.memo
    assert memo(spark, ("policy", "bounded"), lambda: bounded) is bounded
    assert [k[0] for k in store] == [spark.sparkContext.applicationId]
    assert not Stopped.released

    stale = spark.range(11).cache()
    memo(spark, ("policy", "stamped"), lambda: stale, stamp=1)
    fresh = spark.range(13)
    assert memo(spark, ("policy", "stamped"), lambda: fresh, stamp=2) is fresh
    assert stale.storageLevel == StorageLevel.NONE
    assert bounded.storageLevel != StorageLevel.NONE

    memo(spark, ("policy", "used"), lambda: "first build")
    for i in range(session.MEMO_MAX + 50):
        memo(spark, ("policy", i), lambda i=i: i)
        memo(spark, ("policy", "used"), lambda: "rebuilt")  # a hit
        assert len(store) <= session.MEMO_MAX
    assert bounded.storageLevel == StorageLevel.NONE
    assert ("policy", "bounded") not in {k[1:] for k in store}
    assert memo(spark, ("policy", "used"), lambda: "rebuilt") == "first build"

    builds = []
    for _ in range(2):
        assert memo(spark, ("policy", "none"), lambda: builds.append(1)) is None
    assert builds == [1]

    h0 = SESSION_CACHE_HITS["n"]
    d = load_table(spark, SF_DIR, "documents")
    assert load_table(spark, SF_DIR, "documents") is d
    assert _auto_hot_keys(d, ["doc_id"]) is None  # 500 docs: no hot key
    n = len(store)
    assert _auto_hot_keys(d, ["doc_id"]) is None
    assert len(store) == n and any(k[1] == "dedup_probe" for k in store)
    assert SESSION_CACHE_HITS["n"] == h0
    corpus_memo(spark, "policy", SF_DIR, lambda: "derived")
    corpus_memo(spark, "policy", SF_DIR, lambda: "derived")
    assert SESSION_CACHE_HITS["n"] == h0 + 1

    # cache_once registers in the same store: past the bound, the
    # oldest cached plan is unpersisted
    monkeypatch.setattr(session, "MEMO_MAX", 4)
    frames = [spark.range(100 + i) for i in range(6)]
    for f in frames:
        assert session.cache_once(f) is f
    assert frames[0].storageLevel == StorageLevel.NONE
    assert frames[-1].storageLevel != StorageLevel.NONE
    assert len(store) <= 4
    assert SESSION_CACHE_HITS["n"] == h0 + 1


def test_clear_cache_hit_is_cached_again(spark):
    """``spark.catalog.clearCache()`` costs one refill, not every later
    call: a memo hit on a DataFrame that was cached when stored is
    cached again before it is returned, so the same queries fire as
    many jobs after the clear (once refilled) as before it."""
    from pyspark.storagelevel import StorageLevel

    from pydatalake_spark.queries import QUERIES
    from pydatalake_spark.queries.text import _minhash_pairs
    from tests.conftest import jobs_in

    def run():
        for name in ("near_dup_pairs", "pipeline_clean_corpus"):
            QUERIES[name](spark, SF_DIR).count()

    run()
    _, warm = jobs_in(spark, "clear-cache-warm", run)
    assert _minhash_pairs(spark, SF_DIR).storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    assert _minhash_pairs(spark, SF_DIR).storageLevel != StorageLevel.NONE
    run()
    _, after = jobs_in(spark, "clear-cache-after", run)
    assert after == warm


def test_corpus_dir_rewrite_serves_new_files(spark, tmp_path):
    """Replacing the files under a corpus dir's ``documents.parquet/``
    mid-session serves the new rows to a plain table query AND to a
    per-corpus derivation. Table loads and derivations share one
    freshness stamp: a rebuilt derivation must not read a memoized
    table plan whose file listing names deleted files
    (``FAILED_READ_FILE.FILE_NOT_EXIST``)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pydatalake_spark.queries import QUERIES

    sf = str(tmp_path / "corpus")
    docs = os.path.join(sf, "documents.parquet")
    os.makedirs(docs)

    def write(part: str, n: int) -> None:
        for old in os.listdir(docs):
            os.remove(os.path.join(docs, old))
        table = pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": [f"{part} doc {i} holds the text {i * 7}" for i in range(n)],
            }
        )
        pq.write_table(table, os.path.join(docs, f"{part}.parquet"))

    def counts() -> tuple[int, int]:
        return (
            QUERIES["exact_dedup_docs"](spark, sf).count(),
            QUERIES["simhash_fingerprints"](spark, sf).count(),
        )

    write("part-a", 40)
    assert counts() == (40, 40)
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    write("part-b", 80)
    assert counts() == (80, 80)


def test_ivf_centroids_retrained_on_corpus_rewrite(spark, tmp_path, monkeypatch):
    """The ``ivf_topk`` query memoizes its trained quantizer per corpus in
    the session memo: a second call on an unchanged dir trains nothing,
    and rewriting the dir's ``embeddings.parquet`` trains again, so the
    search never runs on centroids of files that are gone."""
    import shutil
    import time

    import pyarrow.parquet as pq

    import pydatalake_spark.queries.similarity as qs

    sf = str(tmp_path / "corpus")
    emb = tmp_path / "corpus" / "embeddings.parquet"
    emb.parent.mkdir()
    shutil.copy(f"{SF_DIR}/embeddings.parquet", emb)
    trained = []
    real = qs.train_ivf_centroids

    def counting(*args, **kwargs):
        trained.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(qs, "train_ivf_centroids", counting)
    assert qs.QUERIES["ivf_topk"](spark, sf).count() == 100
    assert qs.QUERIES["ivf_topk"](spark, sf).count() == 100
    assert len(trained) == 1
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    pq.write_table(pq.read_table(emb).slice(0, 300), emb)
    assert qs.QUERIES["ivf_topk"](spark, sf).count() == 100
    assert len(trained) == 2


def test_corpus_datacard_avg_quality_null_semantics(spark, tmp_path):
    """r13 ADVICE fix: avg_quality must be avg(q) over NON-NULL q only.
    q is null for empty-text (nullif(length,0)) and null-text docs; the
    r12 fused form divided Σq by the FULL doc count, silently counting
    those docs in the denominator. Pins parity against the DuckDB oracle
    on a corpus that contains exactly those docs (the sf fixtures have
    none, so the gate can't see this edge)."""
    import duckdb

    from pydatalake_spark.queries import QUERIES
    from pydatalake_spark.queries.text import ORACLE

    sf = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [
            (1, "the and a spark join. stream of data", "en", "web", 36),
            (2, "", "en", "web", 0),          # empty text -> q null
            (3, None, "en", "web", None),     # null text  -> q null
            (4, "sur le pont d avignon on y danse", "fr", "web", 32),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import os

    os.makedirs(sf, exist_ok=True)
    docs.toPandas().to_parquet(os.path.join(sf, "documents.parquet"))

    out = QUERIES["corpus_datacard"](spark, sf).collect()
    assert len(out) == 1
    row = out[0]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    orow = con.execute(ORACLE["corpus_datacard"]).fetchall()[0]
    ocols = [d[0] for d in con.execute(ORACLE["corpus_datacard"]).description]
    oracle = dict(zip(ocols, orow))

    assert row.n_docs == oracle["n_docs"] == 4
    assert row.n_langs == oracle["n_langs"]
    assert row.top_lang == oracle["top_lang"]
    # the load-bearing check: null-q docs excluded from the denominator
    assert abs(row.avg_quality - oracle["avg_quality"]) < 1e-12


def test_source_novelty_null_text_semantics(spark, tmp_path):
    """source_novelty on a corpus with null and empty text matches the
    DuckDB oracle. Null text shingles to ``[null]``; the oracle's ``JOIN
    USING (shingle)`` drops that posting, so a null-text doc must add
    nothing to its source's shingle counts. Empty text shingles to the
    empty string, which both engines count."""
    import os

    import duckdb

    from pydatalake_spark.queries import QUERIES
    from pydatalake_spark.queries.text import ORACLE

    sf = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over", "en", "web", 30),
            (2, None, "en", "web", None),
            (3, "the quick brown fox sleeps", "en", "books", 26),
            (4, None, "en", "books", None),
            (5, "", "en", "wiki", 0),
            (6, "brown fox jumps over the dog", "en", "wiki", 28),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    os.makedirs(sf, exist_ok=True)
    docs.toPandas().to_parquet(os.path.join(sf, "documents.parquet"))

    got = sorted(
        (r.source, r.total_shingles, r.novel_shingles, r.novelty_rate)
        for r in QUERIES["source_novelty"](spark, sf).collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(con.execute(ORACLE["source_novelty"]).fetchall())

    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) < 1e-12
    # the null-text docs contribute no postings: books holds only doc 3
    assert dict((g[0], g[1]) for g in got)["books"] == 3
