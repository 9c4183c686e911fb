"""Property-based checks (hypothesis) for the semantic-trap operators.

SURVEY §7.3.1/7.3.2: EXCEPT must be SET-semantics and keep-first/last dedup
must be deterministic under an explicit presort. Both are modeled in plain
Python/pandas and compared against the Spark operators on randomized
small inputs — the cases unit fixtures miss (all-duplicate tables, NULL
keys, ties in the presort column) fall out of the generators.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pydatalake_spark.operators.dedup import distinct_table
from pydatalake_spark.operators.diff import tables_diff

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
    ),
    min_size=0,
    max_size=12,
)


def _df(spark, data):
    return spark.createDataFrame(
        pd.DataFrame(data, columns=["k", "v"]).astype({"k": "int64", "v": "object"}),
        schema="k long, v long",
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(a=rows, b=rows)
def test_tables_diff_matches_set_model(spark, a, b):
    """tables_diff == set(a) - set(b), regardless of duplication in either
    side (DuckDB EXCEPT set semantics, utils/table.py:172)."""
    got = {
        (r.k, r.v) for r in tables_diff(_df(spark, a), _df(spark, b)).collect()
    }
    want = set(a) - set(b)
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=12,
))
def test_keep_first_matches_pandas_model(spark, data):
    """distinct_table(keep='first', presort_by=ts) picks, per key, the row
    with min (ts, payload) — the documented all-columns tiebreak."""
    pdf = pd.DataFrame(data, columns=["k", "ts", "p"])
    df = spark.createDataFrame(pdf, schema="k long, ts long, p long")
    got = {
        (r.k, r.ts, r.p)
        for r in distinct_table(df, subset=["k"], keep="first", presort_by=["ts"]).collect()
    }
    want = {
        tuple(g.sort_values(["ts", "p"]).iloc[0])
        for _, g in pdf.groupby("k")
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=4,
    max_size=40,
))
def test_hotsplit_dedup_matches_window_model(spark, data):
    """The HOT-SPLIT plan (window for cold keys ∪ min_by/max_by for
    probed-hot keys) returns the same winner set as the plain window
    plan on arbitrary small frames — thresholds forced low so the probe
    names hot keys on hypothesis-sized data (keys drawn from {0,1,2}, so
    some key virtually always owns ≥5% of rows). The window reference is
    the default call with the probe constants restored: a frame this
    small is below the sampled-row floor."""
    from pydatalake_spark.operators import dedup as D

    pdf = pd.DataFrame(data, columns=["k", "ts", "p"])
    df = spark.createDataFrame(pdf, schema="k long, ts long, p long")
    old = (D.AUTO_PROBE_FRACTION, D.AUTO_MIN_SAMPLED)
    D.AUTO_PROBE_FRACTION, D.AUTO_MIN_SAMPLED = 1.0, 1
    try:
        got = sorted(
            (r.k, r.ts, r.p)
            for r in distinct_table(
                df, subset=["k"], keep="last", presort_by=["ts"]
            ).collect()
        )
    finally:
        D.AUTO_PROBE_FRACTION, D.AUTO_MIN_SAMPLED = old
    want = sorted(
        (r.k, r.ts, r.p)
        for r in distinct_table(
            df, subset=["k"], keep="last", presort_by=["ts"]
        ).collect()
    )
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lts=st.lists(
        st.tuples(st.integers(0, 2), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=10,
    ),
    rts=st.lists(
        st.tuples(st.integers(0, 2), st.floats(0, 100, allow_nan=False)),
        min_size=0,
        max_size=10,
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
def test_asof_matches_merge_asof(spark, lts, rts, direction):
    """asof_join == pd.merge_asof across random keys/times/directions."""
    from pydatalake_spark.operators.asof import asof_join

    left = pd.DataFrame(lts, columns=["k", "t"]).drop_duplicates(["k", "t"])
    right = (
        pd.DataFrame(rts, columns=["k", "t"])
        .drop_duplicates(["k", "t"])
        .assign(px=lambda d: d["t"] * 2 + d["k"])
        .astype({"k": "int64", "t": "float64", "px": "float64"})
    )
    ldf = spark.createDataFrame(left, schema="k long, t double")
    if len(right):
        rdf = spark.createDataFrame(right, schema="k long, t double, px double")
    else:
        rdf = spark.createDataFrame([], schema="k long, t double, px double")
    got = {
        (r.k, r.t): r.px_right
        for r in asof_join(ldf, rdf, on="t", by="k", direction=direction).collect()
    }
    want_pdf = pd.merge_asof(
        left.sort_values("t"),
        right.sort_values("t"),
        on="t",
        by="k",
        direction=direction,
    )
    want = {
        (r.k, r.t): (None if pd.isna(r.px) else r.px) for r in want_pdf.itertuples()
    }
    assert got == want


words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
    min_size=1,
    max_size=10,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(words, min_size=2, max_size=8))
def test_ngram_jaccard_matches_set_model(spark, texts):
    """Exact Jaccard pairs equal a plain-Python shingle-set model on random
    tiny corpora — short docs (< k tokens), identical docs, and all-same
    corpora fall out of the generator."""
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs
    from tests.conftest import cc_loop

    k = 3
    docs = {i: " ".join(t) for i, t in enumerate(texts)}

    def shingle(tokens):
        if len(tokens) >= k:
            return {" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)}
        return {" ".join(tokens)}

    sets = {i: shingle(t) for i, t in enumerate(texts)}
    expect = {}
    ids = sorted(sets)
    for a in ids:
        for b in ids:
            if a < b and sets[a] & sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.5:
                    expect[(a, b)] = j

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    for spark_path in (False, True):
        with cc_loop(spark, spark_path):
            got = {
                (r.id_a, r.id_b): r.jaccard
                for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
            }
        assert set(got) == set(expect), spark_path
        for pair, j in expect.items():
            assert abs(got[pair] - j) < 1e-12, spark_path


_pair_text = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "   "]),
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=7).map(
        " ".join
    ),
)
_pair_corpus = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 5)), _pair_text),
    min_size=0,
    max_size=9,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_pair_corpus, int_cap=st.integers(0, 4))
def test_ngram_driver_pairs_match_spark_plan(spark, rows, int_cap):
    """The driver-side pair kernel returns exactly the Spark plan's rows
    (same jaccard bits) on corpora with null, empty and whitespace-only
    text, docs shorter than k, duplicate ids and null ids, under an int
    cap, a one-row cap frame and no cap. Where duplicate ids make a
    Jaccard denominator zero, both paths raise DIVIDE_BY_ZERO."""
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs
    from tests.conftest import cc_loop

    df = spark.createDataFrame(rows, "doc_id long, text string")
    frame = spark.createDataFrame([(int_cap + 1,)], "__max_df long")

    def outcome(max_df):
        try:
            return sorted(
                map(
                    tuple,
                    ngram_jaccard_pairs(df, threshold=0.3, max_df=max_df).collect(),
                )
            )
        except Exception as e:  # both paths must fail the same way
            assert "DIVIDE_BY_ZERO" in str(e), e
            return "DIVIDE_BY_ZERO"

    for max_df in (int_cap, frame, None):
        with cc_loop(spark, True):
            want = outcome(max_df)
        assert outcome(max_df) == want, (rows, max_df)


_decon_text = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "   "]),
    # long texts that recur across ids: contaminated eval windows
    st.sampled_from(["aa " * 14 + "bb", "é 日本 " * 8]),
    # a short vocabulary repeats 13-token windows across docs; the empty
    # token makes double spaces, and non-ASCII tokens hash as UTF-8
    st.lists(
        st.sampled_from(["aa", "bb", "", "é", "日本"]), min_size=1, max_size=18
    ).map(" ".join),
)
# ids 8 and 16 label eval, 0-2 train; None is a null id
_decon_corpus = st.lists(
    st.tuples(st.sampled_from([None, 0, 1, 2, 8, 16]), _decon_text),
    min_size=0,
    max_size=10,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_decon_corpus)
@example(rows=[])
@example(rows=[(8, "aa " * 14 + "bb"), (0, "aa " * 14 + "bb"), (8, None)])
def test_decon_driver_tables_match_spark_plan(spark, rows, tmp_path_factory):
    """The driver pass gives `_decon_exl` and `_decon_screen` exactly the
    Spark plan's rows (as multisets) on corpora with null, empty and
    whitespace-only text, docs shorter than 13 tokens, duplicate ids,
    null ids and non-ASCII text; the driver tables are
    ``LocalRelation``s."""
    from collections import Counter

    import pydatalake_spark.queries.text as TX
    from pydatalake_spark import session
    from tests.conftest import cc_loop

    sf = str(tmp_path_factory.mktemp("decon"))
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )

    def tables():
        for k in [k for k in session._MEMO if k[2:3] == (sf,)]:
            session._release(session._MEMO.pop(k)[1])
        exl, scr = TX._decon_exl(spark, sf), TX._decon_screen(spark, sf)
        local = [
            t._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            == "LocalRelation"
            for t in (exl, scr)
        ]
        return local, [Counter(map(tuple, t.collect())) for t in (exl, scr)]

    with cc_loop(spark, True):
        spark_local, want = tables()
    local, got = tables()
    assert spark_local == [False, False] and local == [True, True]
    assert got == want, rows


# --- span dedup vs a pure-Python model --------------------------------------

_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc = st.lists(_words, min_size=1, max_size=10).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=6)


def _span_model(texts, k=3):
    """Reference model: per-doc window multiset + cross-doc dup mask."""
    docs = {i: t.split() for i, t in enumerate(texts)}
    wins = {
        i: (
            [" ".join(t[j : j + k]) for j in range(len(t) - k + 1)]
            if len(t) >= k
            else [" ".join(t)]
        )
        for i, t in docs.items()
    }
    owners = {}
    for i, ws in wins.items():
        for w in set(ws):
            owners.setdefault(w, set()).add(i)
    dup = {w for w, o in owners.items() if len(o) > 1}
    stats = {
        i: (len(ws), sum(1 for w in ws if w in dup))
        for i, ws in wins.items()
    }
    kept = {}
    for i, t in docs.items():
        starts = [j for j, w in enumerate(wins[i]) if w in dup]
        short = len(t) < k
        mask = [
            not any(j <= p < j + k or short for j in starts)
            for p in range(len(t))
        ]
        kept[i] = " ".join(tok for tok, m in zip(t, mask) if m)
    return stats, kept


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_corpus)
def test_span_dedup_matches_model(spark, texts):
    from pydatalake_spark.operators.span_dedup import (
        dup_span_stats,
        strip_dup_spans,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    stats, kept = _span_model(texts, k=3)
    got_stats = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in dup_span_stats(df, window=3).collect()
    }
    assert got_stats == stats
    got_kept = {
        r.doc_id: r.clean_text
        for r in strip_dup_spans(df, window=3).collect()
    }
    assert got_kept == kept


# ---------------------------------------------------------------------------
# bigram LM vs pure-Python model on random corpora
# ---------------------------------------------------------------------------

corpora = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=corpora)
def test_bigram_surprisal_matches_model(spark, corpus):
    """Random tiny corpora (empty docs, single-token docs, repeated
    bigrams, shared vocab) score identically to the pure-Python add-k
    bigram LM."""
    import math
    from collections import Counter

    from pydatalake_spark.operators.ngram_lm import bigram_surprisal

    texts = {i: " ".join(toks) for i, toks in enumerate(corpus)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in bigram_surprisal(df).collect()}

    bg, ctx, vocab = Counter(), Counter(), set()
    per_doc = {}
    for did, t in texts.items():
        # match engine tokenization exactly: split(trim(t), ' ')
        toks = t.strip().split(" ")
        pairs = list(zip(toks, toks[1:]))
        per_doc[did] = pairs
        bg.update(pairs)
        ctx.update(w for w, _ in pairs)
        # r7 semantics: |V| is the LM's actual support — w1 ∪ w2 of
        # observed bigrams, NOT the corpus unigram vocabulary (a token
        # occurring only in single-token docs never enters any p(w2|w1))
        for w1, w2 in pairs:
            vocab.add(w1)
            vocab.add(w2)
    v = len(vocab)
    for did, pairs in per_doc.items():
        if not pairs:
            assert did not in got
            continue
        s = [-math.log((bg[p] + 0.5) / (ctx[p[0]] + 0.5 * v)) for p in pairs]
        assert got[did].n_bigrams == len(pairs)
        assert abs(got[did].avg_surprisal - sum(s) / len(s)) < 1e-9


# ---------------------------------------------------------------------------
# label propagation vs pure-Python synchronous model on random graphs
# ---------------------------------------------------------------------------

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_label_propagation_matches_model(spark, edges):
    """Random multigraphs (duplicate edges, self-free, both orientations)
    propagate identically to the pure-Python synchronous model with the
    (count DESC, label ASC) tie rule."""
    from collections import Counter

    from pydatalake_spark.operators.cluster import label_propagation

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.community
        for r in label_propagation(df, num_iters=3).collect()
    }

    nbrs: dict[int, set] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    lab = {n: n for n in nbrs}
    for _ in range(3):
        new = {}
        for n in nbrs:
            c = Counter(lab[m] for m in nbrs[n])
            new[n] = max(c.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lab = new
    assert got == lab


# ---------------------------------------------------------------------------
# connected components (both paths) vs a union-find model on random graphs
# ---------------------------------------------------------------------------

cc_edge_lists = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
    ),
    min_size=0,
    max_size=14,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=cc_edge_lists)
def test_cc_matches_union_find_model(spark, edges):
    """Random multigraphs with self-loops, duplicate and reversed pairs
    and null ids: the driver-side union-find and the min-label loop both
    label every node of a non-null pair with its component's minimum id,
    and a pair with a null id names no node."""
    from pydatalake_spark.operators.cluster import connected_components
    from tests.conftest import cc_loop

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in list(parent)}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for loop in (False, True):
        with cc_loop(spark, loop):
            got = {
                r.node: r.cluster_id
                for r in connected_components(df).collect()
            }
        assert got == want, loop


# ---------------------------------------------------------------------------
# Distributed feather reader vs the schema-unify model (r7 hardening):
# randomized heterogeneous file schemas — a column missing from some files,
# an int64-vs-string conflict on another — must read back exactly as the
# promotion-lattice model predicts (missing -> null fill, long+string ->
# string with decimal-repr casts), never as an executor-side KeyError/cast
# failure. Fuzzes the surface the r6 VERDICT marked weak.
# ---------------------------------------------------------------------------

_FEATHER_FILE = st.tuples(
    st.sampled_from(["int", "str", "none"]),  # flavor of column "a"
    st.booleans(),  # include "b" (string)
    st.booleans(),  # include "c" (double)
    st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.text(alphabet="xy", max_size=2),
            st.floats(min_value=-8, max_value=8, allow_nan=False),
        ),
        min_size=0,
        max_size=4,
    ),
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(files=st.lists(_FEATHER_FILE, min_size=1, max_size=3))
def test_feather_dir_mixed_schema_matches_unify_model(spark, files):
    import os
    import shutil
    import tempfile
    from collections import Counter

    import pyarrow as pa
    from hypothesis import assume
    from pyarrow import feather as paf

    from pydatalake_spark.sources.read import read_feather

    # a feather file needs at least one column to exist on disk
    assume(all(fl != "none" or b or c for fl, b, c, _ in files))

    a_flavors = [fl for fl, *_ in files if fl != "none"]
    has_a = bool(a_flavors)
    a_is_str = "str" in a_flavors  # long + string promotes to string
    has_b = any(b for _, b, _, _ in files)
    has_c = any(c for _, _, c, _ in files)

    base = tempfile.mkdtemp(prefix="feather_prop_")
    try:
        expected: Counter = Counter()
        for i, (fl, b, c, rows) in enumerate(files):
            cols = {}
            if fl == "int":
                cols["a"] = pa.array([r[0] for r in rows], pa.int64())
            elif fl == "str":
                cols["a"] = pa.array([str(r[0]) for r in rows], pa.string())
            if b:
                cols["b"] = pa.array([r[1] for r in rows], pa.string())
            if c:
                cols["c"] = pa.array([r[2] for r in rows], pa.float64())
            paf.write_feather(
                pa.table(cols), os.path.join(base, f"f{i}.feather")
            )
            for r in rows:
                t = ()
                if has_a:
                    if fl == "none":
                        t += (None,)
                    elif a_is_str:
                        t += (str(r[0]),)  # int64->string casts decimal
                    else:
                        t += (r[0],)
                if has_b:
                    t += (r[1] if b else None,)
                if has_c:
                    t += (r[2] if c else None,)
                expected[t] += 1
        back = read_feather(spark, base)
        names = [
            n
            for n, present in (("a", has_a), ("b", has_b), ("c", has_c))
            if present
        ]
        got = Counter(tuple(row[n] for n in names) for row in back.collect())
        assert got == expected
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Delta stats pruning soundness (pure logic, no Spark needed)
# ---------------------------------------------------------------------------

_vals = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))
_files = st.lists(
    st.lists(_vals, min_size=0, max_size=6), min_size=1, max_size=6
)
_ops = st.sampled_from(["=", "!=", "<", "<=", ">", ">=", "in"])


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(files=_files, op=_ops, val=st.integers(min_value=-6, max_value=6))
def test_delta_stats_pruning_is_sound(files, op, val):
    """A file that CONTAINS a matching row is NEVER pruned, for every
    operator, including all-null files, empty files, and files whose
    stats are absent. (Soundness only — pruning is allowed to keep
    non-matching files, never to drop matching ones.)"""
    import json as _json

    from pydatalake_spark.sources import delta as dl
    from pyspark.sql.types import LongType, StructField, StructType

    snap = dl.DeltaSnapshot(
        table="/nonexistent",
        version=0,
        metadata={
            "schemaString": StructType(
                [StructField("k", LongType())]
            ).json(),
            "partitionColumns": [],
        },
    )
    file_map = {}
    expect_match = {}
    for i, rows_ in enumerate(files):
        nonnull = [r for r in rows_ if r is not None]
        stats = {"numRecords": len(rows_), "nullCount": {"k": len(rows_) - len(nonnull)}}
        if nonnull:
            stats["minValues"] = {"k": min(nonnull)}
            stats["maxValues"] = {"k": max(nonnull)}
        # every OTHER file gets no stats at all (foreign minimal table)
        add = {"path": f"f{i}", "partitionValues": {}}
        if i % 2 == 0:
            add["stats"] = _json.dumps(stats)
        file_map[f"f{i}"] = add

        fv = [val, val + 1] if op == "in" else val
        def match(r, op=op, fv=fv):
            if r is None:
                return False  # SQL comparison with NULL is never true
            if op == "=":
                return r == fv
            if op == "!=":
                return r != fv
            if op == "<":
                return r < fv
            if op == "<=":
                return r <= fv
            if op == ">":
                return r > fv
            if op == ">=":
                return r >= fv
            return r in fv
        expect_match[f"f{i}"] = any(match(r) for r in rows_)

    fv = (val, val + 1) if op == "in" else val
    pruned = dl._prune_data_files(snap, file_map, [("k", op, fv)])
    for name, has_match in expect_match.items():
        if has_match:
            assert name in pruned, (
                f"UNSOUND: file {name} with a matching row was pruned "
                f"(op={op}, val={fv}, rows={files[int(name[1:])]})"
            )


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    maps=st.lists(
        st.one_of(
            st.none(),
            st.dictionaries(
                st.text(min_size=1, max_size=4),
                st.one_of(st.none(), st.text(max_size=4)),
                max_size=4,
            ),
        ),
        min_size=0,
        max_size=8,
    )
)
def test_decode_map_column_matches_to_pylist(maps):
    """The offsets-based fast map decoder equals pyarrow's row-wise
    decode for every mix of null rows, empty maps, and null values."""
    import pyarrow as pa

    from pydatalake_spark.sources.delta import (
        _decode_map_column,
        _maybe_tuplelist_to_dict,
    )

    arr = pa.array(
        [None if m is None else list(m.items()) for m in maps],
        type=pa.map_(pa.string(), pa.string()),
    )
    fast = _decode_map_column(arr)
    slow = [
        None if v is None else _maybe_tuplelist_to_dict(v)
        for v in arr.to_pylist()
    ]
    assert fast == slow


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
        min_size=0,
        max_size=40,
    ),
    row_group_size=st.integers(min_value=1, max_value=10),
)
def test_file_stats_match_data(tmp_path_factory, rows, row_group_size):
    """The footer-aggregated add.stats equal the data's true
    numRecords/min/max/nullCount for every row-group split, including
    all-null groups (which must not poison the min/max)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    from pydatalake_spark.sources.delta import _file_stats

    d = tmp_path_factory.mktemp("stats")
    path = str(d / "f.parquet")
    pq.write_table(
        pa.table({"k": pa.array(rows, type=pa.int64())}),
        path,
        row_group_size=row_group_size,
    )
    schema = StructType([StructField("k", LongType())])
    st_ = _json.loads(_file_stats(path, schema, []))
    nonnull = [r for r in rows if r is not None]
    assert st_["numRecords"] == len(rows)
    assert st_["nullCount"].get("k") == len(rows) - len(nonnull)
    if nonnull:
        assert st_["minValues"].get("k") == min(nonnull)
        assert st_["maxValues"].get("k") == max(nonnull)
    else:
        assert "k" not in st_["minValues"]
