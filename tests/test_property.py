"""Property-based tests (hypothesis) for the semantically hard operators:
as-of join vs pandas merge_asof on random inputs, keep-last upsert
idempotency, z-score vs numpy. Few examples with a shared session — each
example costs Spark jobs."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from big_data_project_datapipeline_spark.operators.asof import asof_join
from big_data_project_datapipeline_spark.operators.merge import upsert_keep_last
from big_data_project_datapipeline_spark.operators.scale import zscore_scale

UTC = dt.timezone.utc
BASE = dt.datetime(2024, 1, 1, tzinfo=UTC)

# offsets in seconds within one day; duplicates allowed on the left side
offsets = st.integers(min_value=0, max_value=86_400)


@settings(max_examples=8, deadline=None)
@given(
    left=st.lists(offsets, min_size=1, max_size=12),
    right=st.lists(offsets, min_size=1, max_size=12, unique=True),
    tol=st.sampled_from([60, 900, 3600]),
)
def test_asof_nearest_matches_pandas(spark, left, right, tol):
    lrows = [(BASE + dt.timedelta(seconds=s),) for s in sorted(set(left))]
    rrows = [
        (BASE + dt.timedelta(seconds=s), float(i)) for i, s in enumerate(sorted(right))
    ]
    ldf = spark.createDataFrame(lrows, "datetime timestamp")
    rdf = spark.createDataFrame(rrows, "datetime timestamp, price double")
    got = (
        asof_join(ldf, rdf, tolerance_seconds=tol)
        .orderBy("datetime")
        .toPandas()
    )
    exp = pd.merge_asof(
        pd.DataFrame({"datetime": [r[0] for r in lrows]}),
        pd.DataFrame(
            {"datetime": [r[0] for r in rrows], "price": [r[1] for r in rrows]}
        ),
        on="datetime",
        direction="nearest",
        tolerance=pd.Timedelta(seconds=tol),
    )
    got["datetime"] = pd.to_datetime(got["datetime"], utc=True)
    exp["datetime"] = pd.to_datetime(exp["datetime"], utc=True)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), exp.reset_index(drop=True), check_dtype=False
    )


@settings(max_examples=6, deadline=None)
@given(
    existing=st.lists(
        st.tuples(st.integers(0, 5), st.floats(-10, 10, allow_nan=False)),
        min_size=0,
        max_size=8,
    ),
    new=st.lists(
        st.tuples(st.integers(0, 5), st.floats(-10, 10, allow_nan=False)),
        min_size=0,
        max_size=8,
    ),
)
def test_upsert_keep_last_properties(spark, existing, new):
    schema = "k int, v double"
    e = spark.createDataFrame(existing, schema) if existing else spark.createDataFrame([], schema)
    n = spark.createDataFrame(new, schema) if new else spark.createDataFrame([], schema)
    out = upsert_keep_last(e, n, keys=("k",), tiebreak=("v",))
    rows = out.collect()
    keys = [r["k"] for r in rows]
    # one row per key, and the keyset is the union
    assert len(keys) == len(set(keys))
    assert set(keys) == {k for k, _ in existing} | {k for k, _ in new}
    # every key present in `new` must carry a value from `new`
    new_keys = {k for k, _ in new}
    for r in rows:
        if r["k"] in new_keys:
            assert any(k == r["k"] and v == r["v"] for k, v in new)
    # idempotency: re-applying `new` changes nothing
    again = upsert_keep_last(out, n, keys=("k",), tiebreak=("v",))
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(-1e3, 1e3, allow_nan=False)),
        min_size=2,
        max_size=20,
    )
)
def test_zscore_matches_numpy(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = zscore_scale(df, ["x"]).collect()
    filled = np.array([0.0 if v is None else v for v in vals])
    std = filled.std()  # ddof=0
    mean = filled.mean()
    expected = (filled - mean) / (std if std > 0 else 1.0)
    got = sorted(r["scaled_x"] for r in out)
    assert np.allclose(got, sorted(expected), atol=1e-9)


@settings(max_examples=8, deadline=None)
@given(
    n_tokens=st.integers(min_value=1, max_value=120),
    chunk=st.integers(min_value=2, max_value=16),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_chunking_covers_every_token_in_order(spark, n_tokens, chunk, overlap_frac):
    from big_data_project_datapipeline_spark.functions.text import (
        chunk_documents,
    )

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    words = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    stride = chunk - overlap
    # stride reconstruction: dropping each chunk's overlap prefix (except
    # the first) re-yields the exact token stream
    rebuilt = rows[0]["chunk_text"].split()
    for r in rows[1:]:
        rebuilt.extend(r["chunk_text"].split()[overlap:])
    # the final chunk may re-cover earlier tokens; dedup while keeping order
    assert rebuilt[: len(words)] == words
    assert set(rebuilt) == set(words)
    # every chunk except the last is full-size
    assert all(r["chunk_len"] == chunk for r in rows[:-1])
    assert rows[-1]["chunk_len"] >= 1


@settings(max_examples=8, deadline=None)
@given(
    values=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=40
    ),
)
def test_rank_elements_match_numpy_lower_method(spark, values):
    import numpy as np

    from big_data_project_datapipeline_spark.functions.quality import (
        grouped_rank_elements,
    )

    df = spark.createDataFrame(
        [("g", float(v)) for v in values], "k string, value double"
    )
    out = grouped_rank_elements(
        df, ["k"], "value", [(1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75")]
    ).first()
    arr = np.sort(np.asarray(values, dtype=float))
    n = len(arr)
    for (num, den, name) in [(1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75")]:
        rank = (num * n + den - 1) // den  # ceil(num·n/den), 1-based
        assert out[name] == arr[rank - 1]


@settings(max_examples=8, deadline=None)
@given(
    names=st.lists(
        st.text(alphabet="abcx ", min_size=0, max_size=10),
        min_size=2,
        max_size=12,
    ),
    d=st.sampled_from([1, 2]),
)
def test_charset_prune_never_loses_a_match(spark, names, d):
    """Random small-alphabet corpora (maximally collision- and
    anagram-prone): the bitmap-pruned fuzzy matcher returns exactly the
    naive band+DP result."""
    from fuzzy_oracle import blocked_pairs_naive

    from big_data_project_datapipeline_spark.operators.fuzzy import (
        blocked_levenshtein_pairs,
    )

    rows = [(i, "A", n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    fast = {
        (r.left_id, r.right_id, r.distance)
        for r in blocked_levenshtein_pairs(
            df, ["blk"], "name", "id", max_dist=d
        ).collect()
    }
    naive = {
        (r.left_id, r.right_id, r.distance)
        for r in blocked_pairs_naive(
            df, ["blk"], "name", "id", max_dist=d
        ).collect()
    }
    assert fast == naive


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("ab cd ef gh ij".split()),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    ),
    window=st.sampled_from([2, 3]),
)
def test_substring_dedup_matches_bruteforce(spark, docs, window):
    """exact_substring_dedup vs a python brute force on tiny random
    corpora with a 5-word vocabulary (dup spans everywhere)."""
    from big_data_project_datapipeline_spark.functions.dedup import (
        exact_substring_dedup,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, window=window).collect()
    }

    # brute force: same semantics, driver-side
    wins = {}  # gram -> sorted list of (doc, pos)
    tok_docs = {i: toks for i, toks in enumerate(docs)}
    for i, toks in tok_docs.items():
        for p in range(len(toks) - window + 1):
            wins.setdefault(tuple(toks[p : p + window]), []).append((i, p))
    removed = {i: set() for i in tok_docs}
    for occs in wins.values():
        if len(occs) < 2:
            continue
        keeper = min(occs)
        for occ in occs:
            if occ != keeper:
                removed[occ[0]].update(range(occ[1], occ[1] + window))
    for i, toks in tok_docs.items():
        if not toks:
            assert i not in got  # empty docs drop (posexplode)
            continue
        kept = [t for p, t in enumerate(toks) if p not in removed[i]]
        assert got[i]["n_tokens"] == len(toks)
        assert got[i]["n_removed"] == len(removed[i])
        assert got[i]["text_dedup"] == " ".join(kept)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=40,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_normalize_text_idempotent_and_canonical(spark, texts):
    from pyspark.sql import functions as F

    from big_data_project_datapipeline_spark.functions.text import (
        normalize_text,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = df.select(
        "doc_id", normalize_text(F.col("text")).alias("n1")
    ).withColumn("n2", normalize_text(F.col("n1")))
    for r in once.collect():
        # idempotent: a normalized string is its own normal form
        assert r.n2 == r.n1
        # canonical: lowercase [a-z0-9 ] only, single spaces, trimmed
        assert r.n1 == " ".join(r.n1.split())
        assert all(c.islower() or c.isdigit() or c == " " for c in r.n1)


@settings(max_examples=5, deadline=None)
@given(
    seeds=st.lists(st.integers(min_value=0, max_value=9), min_size=2, max_size=8),
    d=st.sampled_from([1, 3, 7]),
)
def test_simhash_neardup_complete_on_random_corpora(spark, seeds, d):
    import itertools

    from big_data_project_datapipeline_spark.functions import dedup as D

    vocab = ["cat", "dog", "fox", "owl", "ant", "bee", "elk", "hen", "ram", "sow"]
    texts = [
        " ".join(vocab[(s + j) % len(vocab)] for j in range(s % 5 + 2))
        for s in seeds
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs = {r.doc_id: r.simhash for r in D.simhash(df, bits=32).collect()}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= d
    }
    got = {
        (r.id_a, r.id_b)
        for r in D.simhash_near_duplicates(df, max_distance=d).collect()
    }
    assert got == want  # complete AND exact for any block-compatible d


# --- round-5: AllPairs prefix filtering is EXACT on arbitrary corpora ---

_vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> dense overlaps


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_vocab), min_size=1, max_size=10),
        min_size=2,
        max_size=10,
    ),
    thr=st.sampled_from([(1, 3), (1, 2), (2, 3), (4, 5)]),
)
def test_allpairs_jaccard_matches_brute_force(spark, docs, thr):
    """The prefix filter must produce EXACTLY the brute-force pair set
    at any threshold on any corpus — k=1 shingles (unigram sets) so
    tiny random docs still overlap densely, hitting the regime where
    every token is hot (prefixes carry common tokens; the filter's
    completeness proof has no slack to hide in)."""
    import hashlib

    from big_data_project_datapipeline_spark.functions.dedup import (
        allpairs_jaccard,
    )

    num, den = thr
    d = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r["left_id"], r["right_id"], r["inter_size"], r["union_size"])
        for r in allpairs_jaccard(
            d, threshold_num=num, threshold_den=den, k=1
        ).collect()
    }
    sets = {
        i: {
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for t in toks
        }
        for i, toks in enumerate(docs)
    }
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if den * inter >= num * union:
                    want.add((a, b, inter, union))
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    keys=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=1,
        max_size=150,
    )
)
def test_hll_registers_match_python_on_random_keys(spark, keys):
    """Register frame == the python md5 mirror for arbitrary key lists
    (duplicates, negatives — the string-rendering edge both engines
    must agree on)."""
    import hashlib

    from big_data_project_datapipeline_spark.functions.sketches import (
        hll_registers,
    )

    df = spark.createDataFrame(
        [("g", k) for k in keys], "grp string, k long"
    )
    got = {
        r["bucket"]: r["r"]
        for r in hll_registers(df, "k", ["grp"], p=6).collect()
    }
    regs: dict[int, int] = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        b, w = h >> 54, h % (1 << 54)
        rk = 55 if w == 0 else 54 - w.bit_length() + 1
        regs[b] = max(regs.get(b, 0), rk)
    assert got == {b: regs.get(b, 0) for b in range(64)}


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=50), min_size=20, max_size=120
    ),
    ngroups=st.sampled_from([1, 2, 5]),
)
def test_grouped_prefix_matches_window_under_forced_partitions(
    spark, vals, ngroups
):
    """Round-8 property pin: grouped_prefix ≡ the window trio on random
    tie-heavy frames while AQE coalescing is OFF — the multi-partition
    range-exchange regime the boundary-resampling bug lived in (at
    default settings small frames coalesce to one partition and the
    device is trivially immune)."""
    from big_data_project_datapipeline_spark.operators.prefix import (
        grouped_prefix,
    )
    from pyspark.sql import Window
    import pyspark.sql.functions as SF

    rows = [(i, i % ngroups, v) for i, (v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, g long, v long")
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        got = (
            grouped_prefix(
                df, ["v", "id"], "g",
                rank_col="r", group_rank_col="gr",
                group_count_col="gn", sum_cols=["v"],
            )
            .orderBy("id")
            .collect()
        )
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev
        )
    wg = Window.partitionBy("g").orderBy("v", "id")
    wa = Window.orderBy("v", "id")
    exp = (
        df.withColumn("r", SF.row_number().over(wa))
        .withColumn("gr", SF.row_number().over(wg))
        .withColumn(
            "gn", SF.count(SF.lit(1)).over(Window.partitionBy("g"))
        )
        .withColumn(
            "v__gcum",
            SF.sum("v").over(
                wg.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "v__gtot", SF.sum("v").over(Window.partitionBy("g"))
        )
        .orderBy("id")
        .collect()
    )
    for a, b in zip(got, exp):
        for c in ("id", "g", "v", "r", "gr", "gn", "v__gcum", "v__gtot"):
            assert a[c] == b[c], (c, a, b)


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "ab", "ba", "abc", "ca", "c"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=5,
    ),
)
def test_token_gini_matches_python_reference(spark, docs):
    """token_gini vs a pure-Python Gini on random corpora: exact
    n_types/n_tokens, the quantized integer-rational Gini, and the
    top-decile share."""
    import math

    from big_data_project_datapipeline_spark.functions.corpus import (
        token_gini,
    )

    rows = [(i, " ".join(toks), "s") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    got = token_gini(df).first()

    from collections import Counter

    counts = Counter(t for toks in docs for t in toks)
    ordered = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ordered)
    t = sum(c for _, c in ordered)
    s = sum((i + 1) * c for i, (_, c) in enumerate(ordered))
    gini = (2 * s - (n + 1) * t) / (n * t)
    k = -(-n // 10)  # ceil(n/10)
    top = sum(c for _, c in ordered[n - k:]) / t
    q6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    assert (got["n_types"], got["n_tokens"]) == (n, t)
    assert got["gini"] == q6(gini)
    assert got["top_decile_share"] == q6(top)


@settings(max_examples=5, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=1, max_value=4),
)
def test_batched_bpe_k1_equals_exact_on_random_corpora(spark, words, n):
    """bpe_train_merges_batched(batch_k=1) must reproduce the exact
    trainer's merge sequence on arbitrary corpora — the pin that the
    batching machinery (candidate array, greedy fold, nested rewrite)
    degenerates to the exact algorithm at k=1."""
    from big_data_project_datapipeline_spark.functions.corpus import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )

    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    exact = [
        (r["round"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train_merges(df, n_merges=n).collect()
    ]
    batched = [
        (r["round"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train_merges_batched(
            df, n_rounds=n, batch_k=1
        ).collect()
    ]
    assert batched == exact
