"""Property-based tests (hypothesis): algebraic invariants of the
engine's operators under arbitrary inputs. Examples are batched into
single DataFrames so each hypothesis case costs one Spark job, not N.
"""

from __future__ import annotations

import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from healthcare_api_spark.functions.ids import uuid3_ns, uuid5_dns
from healthcare_api_spark.functions.refs import make_ref, ref_id, ref_type
from healthcare_api_spark.operators import dedup, textops
from healthcare_api_spark.sources.store import upsert_frames

_slow = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ids = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), min_codepoint=32,
                           max_codepoint=0x2FF),
    min_size=1, max_size=20,
)
texts = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Zs"), max_codepoint=0x2FF),
    min_size=0, max_size=200,
)


@_slow
@given(st.lists(ids, min_size=1, max_size=20, unique=True))
def test_ref_roundtrip_property(spark, id_list):
    df = spark.createDataFrame([(i,) for i in id_list], ["rid"])
    out = df.select(
        "rid", make_ref("Patient", F.col("rid")).alias("ref")
    ).select("rid", ref_type(F.col("ref")).alias("t"), ref_id(F.col("ref")).alias("back"))
    for r in out.collect():
        assert r["t"] == "Patient" and r["back"] == r["rid"]


@_slow
@given(st.lists(ids, min_size=1, max_size=15, unique=True))
def test_uuid5_byte_exact_property(spark, names):
    df = spark.createDataFrame([(n,) for n in names], ["n"])
    out = {r["n"]: r["u"] for r in df.select("n", uuid5_dns(F.col("n")).alias("u")).collect()}
    for n in names:
        assert out[n] == str(uuid.uuid5(uuid.NAMESPACE_DNS, n))


def test_name_uuids_multibyte_empty_and_null(spark):
    """What the properties' alphabet (≤ U+02FF) never draws: 3- and 4-byte
    UTF-8 (CJK, emoji, a supplementary-plane CJK ideograph), the empty
    string and NULL (→ NULL)."""
    names = [
        "样本-assay", "検体", "😀🧬-assay", "\U00020000", "", "a-\u00e9-\u4e2d-\U0001f600", None,
    ]
    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "i int, n string")
    out = {
        r["i"]: (r["v5"], r["v3"])
        for r in df.select(
            "i", uuid5_dns(F.col("n")).alias("v5"), uuid3_ns(F.col("n")).alias("v3")
        ).collect()
    }
    for i, n in enumerate(names):
        ns = uuid.NAMESPACE_DNS
        want = (None, None) if n is None else (str(uuid.uuid5(ns, n)), str(uuid.uuid3(ns, n)))
        assert out[i] == want


@_slow
@given(st.lists(ids, min_size=1, max_size=15, unique=True))
def test_uuid3_byte_exact_property(spark, names):
    """The pure-JVM md5 path (uuid3_ns) must be byte-identical to
    CPython's uuid.uuid3 — for the default DNS namespace AND the
    ASCII namespace the f7b oracle uses (DuckDB md5 is VARCHAR-only,
    so only the latter is cross-engine hash-verified)."""
    ascii_ns = uuid.UUID(bytes=b"healthcareapi-ns")
    df = spark.createDataFrame([(n,) for n in names], ["n"])
    out = {
        r["n"]: (r["dns"], r["asc"])
        for r in df.select(
            "n",
            uuid3_ns(F.col("n")).alias("dns"),
            uuid3_ns(F.col("n"), ascii_ns).alias("asc"),
        ).collect()
    }
    for n in names:
        assert out[n][0] == str(uuid.uuid3(uuid.NAMESPACE_DNS, n))
        assert out[n][1] == str(uuid.uuid3(ascii_ns, n))


@_slow
@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(-10, 10)),
                 min_size=1, max_size=30))
def test_upsert_idempotent_property(spark, rows):
    existing = spark.createDataFrame([(k, 0, 0) for k in range(6)], ["id", "v", "x"])
    updates = spark.createDataFrame(rows, ["id", "v", "x"])
    once = upsert_frames(existing, updates, "id", "v")
    twice = upsert_frames(once, updates, "id", "v")
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b  # applying the same updates again changes nothing
    assert {r[0] for r in a} == set(range(6)) | {r[0] for r in rows}


@_slow
@given(st.lists(texts, min_size=1, max_size=10))
def test_quality_score_bounded_property(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = textops.quality_score(df, "doc_id", "text").collect()
    assert all(0.0 <= r["score"] <= 1.0 for r in out)


@_slow
@given(st.lists(texts.filter(lambda t: t.strip()), min_size=1, max_size=8, unique=True))
def test_minhash_duplication_invariant_property(spark, docs):
    """A doc and its duplicate always share a full signature, whatever
    the text; dedup clusters map both to the lower id."""
    rows = list(enumerate(docs)) + [(1000 + i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["canonical_id"]
           for r in dedup.minhash_dedup(df, "doc_id", "text", num_hashes=4).collect()}
    for i in range(len(docs)):
        assert out[1000 + i] == out[i]


@_slow
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=25),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 999)),
             min_size=0, max_size=25),
)
def test_asof_join_matches_naive_property(spark, lefts, rights):
    """asof_join == the obvious per-row 'latest right ≤ left_ts' rule."""
    from healthcare_api_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], ["lid", "k", "ts"]
    )
    right = spark.createDataFrame(rights, ["k", "ts", "payload"]) if rights else (
        spark.createDataFrame([], "k int, ts int, payload int"))
    got = {r["lid"]: r["payload"]
           for r in asof_join(left, right, "k", "ts", "ts", ["payload"]).collect()}

    def naive(k, t):
        cands = [(rt, p) for (rk, rt, p) in rights if rk == k and rt <= t]
        if not cands:
            return None
        best_ts = max(c[0] for c in cands)
        # ties at the same ts: our window picks the LAST right row in
        # (ts, input) order — emulate by taking the max payload position;
        # restrict generated data to unique (k, ts) instead:
        return [p for (rt, p) in cands if rt == best_ts][-1]

    seen = set()
    unique_ts = all((rk, rt) not in seen and not seen.add((rk, rt)) for rk, rt, _ in rights)
    if unique_ts:
        for i, (k, t) in enumerate(lefts):
            assert got[i] == naive(k, t), (i, k, t)


@_slow
@given(st.lists(st.tuples(ids, texts), min_size=1, max_size=20))
def test_exact_dedup_counts_property(spark, rows):
    df = spark.createDataFrame(rows + rows, ["k", "t"]).withColumn(
        "ord", F.monotonically_increasing_id()
    )
    out = dedup.exact_dedup(df, ["k", "t"], "ord")
    assert out.count() == len(set(rows))


@_slow
@given(st.lists(st.tuples(st.integers(0, 10**6), st.sampled_from(["en", "de", "fr"])),
                min_size=1, max_size=60, unique_by=lambda t: t[0]))
def test_stratified_sample_partitioning_invariant_property(spark, rows):
    """The sample is a pure function of (salt, id): repartitioning the
    input must never change which rows are kept — the property that makes
    deterministic sampling usable on a cluster at all."""
    from healthcare_api_spark.operators import curation

    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"en": 0.5, "de": 0.25, "fr": 0.0}
    a = {r["doc_id"] for r in curation.stratified_sample(df, "doc_id", "lang", rates).collect()}
    b = {
        r["doc_id"]
        for r in curation.stratified_sample(
            df.repartition(7, "lang"), "doc_id", "lang", rates
        ).collect()
    }
    assert a == b
    # subset property: kept rows all satisfy their stratum's threshold
    assert a <= {i for i, _ in rows}


@_slow
@given(st.lists(st.tuples(st.integers(0, 10**6), texts), min_size=1, max_size=40,
                unique_by=lambda t: t[0]))
def test_pack_sequences_conservation_property(spark, rows):
    """Packing never loses or invents tokens: offsets are the prefix sums
    of token counts in id order, and sequence ranges are consistent."""
    from healthcare_api_spark.operators import curation

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sorted(
        curation.pack_sequences(df, "doc_id", "text", budget=7).collect(),
        key=lambda r: r["doc_id"],
    )
    running = 0
    for r in out:
        assert r["start_tok"] == running
        running += r["n_tokens"]
        assert r["first_seq"] == r["start_tok"] // 7
        assert r["last_seq"] == max(r["start_tok"] + r["n_tokens"] - 1, r["start_tok"]) // 7
        assert r["first_seq"] <= r["last_seq"]


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=30),
    page=st.integers(min_value=1, max_value=7),
)
def test_keyset_pagination_walk_lossless_property(spark, keys, page):
    """Walking ANY table with heavily duplicated sort keys via composite
    (key, id) page tokens yields exactly the total order — no row lost,
    none duplicated, for every page size (the r2 keyset bug class)."""
    from healthcare_api_spark.plans.search import (
        SearchConfig,
        SearchEngine,
        encode_page_token,
    )

    rows = [(f"r{i:03d}", k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, ["id", "k"])
    eng = SearchEngine(
        {"T": df}, {"T": SearchConfig(params={"key": "k"})}
    )
    seen, tok = [], None
    for _ in range(len(rows) + 2):
        params = {"_sort": "key", "_count": str(page)}
        if tok is not None:
            params["_page_token"] = tok
        got = eng.search("T", params).collect()
        if not got:
            break
        seen += [(r["id"], r["k"]) for r in got]
        tok = encode_page_token(got[-1]["k"], got[-1]["id"])
    expect = sorted(rows, key=lambda r: (r[1], r[0]))
    assert seen == expect


@_slow
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.floats(-1e6, 1e6)),
        min_size=1, max_size=60,
    ),
    cut1=st.integers(0, 59),
    cut2=st.integers(0, 59),
)
def test_agg_state_merge_associative_property(spark, rows, cut1, cut2):
    """Any 3-way split of the input merges (in any grouping) to the
    state of the whole — the algebraic fact incremental MV maintenance
    rests on. count/min/max must match EXACTLY; float sums are
    associative only up to IEEE reassociation (hypothesis found
    (63.0 + 0.99999) + 1/3 differing from the one-pass sum in the
    last ulp), so sums compare within 1 ulp-scale relative tolerance —
    the same contract every distributed engine gives for double sums.
    """
    import math

    from healthcare_api_spark.operators.relational import agg_state, merge_agg_state

    a, b = sorted((cut1 % (len(rows) + 1), cut2 % (len(rows) + 1)))
    parts = [rows[:a], rows[a:b], rows[b:]]
    specs = {"v": ["sum", "count", "min", "max"]}
    df_all = spark.createDataFrame(rows, "k int, v double")
    states = [
        agg_state(spark.createDataFrame(p, "k int, v double"), ["k"], specs)
        for p in parts if p
    ]
    merged = states[0]
    for sdf in states[1:]:
        merged = merge_agg_state(merged, sdf, ["k"], specs)
    want = {r["k"]: r.asDict() for r in agg_state(df_all, ["k"], specs).collect()}
    got = {r["k"]: r.asDict() for r in merged.collect()}
    assert set(got) == set(want)
    for k, g in got.items():
        w = want[k]
        assert set(g) == set(w)
        for col, gv in g.items():
            if col.endswith("_sum"):
                assert math.isclose(gv, w[col], rel_tol=1e-12, abs_tol=1e-12), (
                    k, col, gv, w[col],
                )
            else:
                assert gv == w[col], (k, col, gv, w[col])


@_slow
@given(
    keys=st.lists(st.integers(0, 500), min_size=1, max_size=80),
    cut=st.integers(0, 79),
)
def test_kmv_merge_associative_property(spark, keys, cut):
    """bottom-k(union) == merge(bottom-k, bottom-k) for any split —
    the distributed/streaming-foldability of the KMV sketch."""
    from healthcare_api_spark.operators.sketches import kmv_build, kmv_merge

    c = cut % (len(keys) + 1)
    left, right = keys[:c], keys[c:]
    df_all = spark.createDataFrame([("g", k) for k in keys], "g string, u int")
    whole = kmv_build(df_all, ["g"], "u", k=8).collect()
    parts = [p for p in (left, right) if p]
    sketches_ = [
        kmv_build(spark.createDataFrame([("g", k) for k in p], "g string, u int"),
                  ["g"], "u", k=8)
        for p in parts
    ]
    merged = sketches_[0]
    if len(sketches_) == 2:
        merged = kmv_merge(sketches_[0], sketches_[1], ["g"], k=8)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole))


_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
_sentence = st.lists(_words, min_size=1, max_size=4).map(" ".join)
_doc = st.lists(_sentence, min_size=1, max_size=5).map(". ".join)


@_slow
@given(st.lists(_doc, min_size=1, max_size=8))
def test_sentence_dedup_matches_python_reference(spark, docs):
    rows = [(i, t) for i, t in enumerate(docs)]
    got = {
        r["doc_id"]: (r["text_deduped"], r["n_sentences"], r["n_kept"])
        for r in dedup.sentence_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
        ).collect()
    }
    seen: set[str] = set()
    for i, t in rows:
        parts = t.split(". ")
        kept = []
        for s in parts:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        want = (". ".join(kept), len(parts), len(kept))
        assert got[i] == want, (i, got[i], want)


@_slow
@given(
    st.lists(st.lists(_words, min_size=1, max_size=12).map(" ".join),
             min_size=1, max_size=8),
    st.lists(_words, min_size=2, max_size=3),
)
def test_phrase_counts_matches_python_reference(spark, docs, phrase):
    rows = [(i, t) for i, t in enumerate(docs)]
    idx = textops.positional_index(
        spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
    )
    got = {
        r["doc_id"]: r["phrase_count"]
        for r in textops.phrase_counts(idx, "doc_id", phrase).collect()
    }
    want = {}
    n = len(phrase)
    for i, t in rows:
        toks = t.split()
        c = sum(1 for j in range(len(toks) - n + 1) if toks[j : j + n] == phrase)
        if c:
            want[i] = c
    assert got == want


@_slow
@given(
    baskets=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 9)),
        min_size=1, max_size=60,
    ),
    min_support=st.integers(1, 4),
)
def test_co_occurrence_matches_brute_force_property(spark, baskets, min_support):
    # the packaged pair miner (with its a-priori prune) must equal the
    # definitionally-correct brute force on arbitrary basket shapes —
    # the prune's losslessness is the property under test
    from healthcare_api_spark.operators.analytics import co_occurrence

    df = spark.createDataFrame(
        [(o, f"i{i}") for o, i in baskets], ["basket", "item"]
    )
    got = sorted(
        map(tuple, co_occurrence(df, "basket", "item", min_support).collect())
    )
    sets: dict[int, set] = {}
    for o, i in baskets:
        sets.setdefault(o, set()).add(f"i{i}")
    brute: dict[tuple, int] = {}
    for items in sets.values():
        s = sorted(items)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                brute[(s[x], s[y])] = brute.get((s[x], s[y]), 0) + 1
    want = sorted(
        (a, b, n) for (a, b), n in brute.items() if n >= min_support
    )
    assert got == want


@_slow
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1, 1, allow_nan=False, allow_infinity=False, width=32),
            min_size=8, max_size=8,
        ),
        min_size=2, max_size=24,
    ),
)
def test_pq_adc_kernel_matches_python_reference_property(spark, vecs):
    # the Arrow batch kernel's integer encode+ADC must equal a plain
    # Python reference (same rounding, same tie-breaks) on arbitrary
    # float inputs — pins the numpy vectorization against the spec
    import math

    from healthcare_api_spark.operators.similarity import pq_adc_topk_int

    books = [
        [[(i * 7 + j * 3 + t) % 11 - 5 for t in range(4)] for i in range(4)]
        for j in range(2)
    ]
    query = [0.1 * i - 0.3 for i in range(8)]
    df = spark.createDataFrame(
        [(n, [float(x) for x in v]) for n, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["adc_dist"]
        for r in pq_adc_topk_int(
            df, "vec_id", "embedding", books, query, k=len(vecs), scale=1000
        ).collect()
    }

    def rnd(v):
        return int(math.floor(abs(v * 1000) + 0.5)) * (1 if v >= 0 else -1)

    qint = [rnd(float(x)) for x in query]
    for n, v in enumerate(vecs):
        # float32 storage: round-trip through float32 like the table does
        import struct as _struct

        v32 = [_struct.unpack("f", _struct.pack("f", x))[0] for x in v]
        e = [rnd(x) for x in v32]
        total = 0
        for j, book in enumerate(books):
            piece = e[j * 4 : (j + 1) * 4]
            dists = [
                sum((a - b) ** 2 for a, b in zip(piece, c)) for c in book
            ]
            code = dists.index(min(dists))
            q = qint[j * 4 : (j + 1) * 4]
            total += sum((a - b) ** 2 for a, b in zip(q, book[code]))
        assert got[n] == total, n


@_slow
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([(1, 2), (3, 5), (4, 5), (1, 1)]),
)
def test_prefix_jaccard_lossless_property(spark, token_lists, tau):
    """d18's prefix + positional + length prunes must be LOSSLESS on
    arbitrary token multisets (duplicates, empty docs, single tokens,
    all-identical corpora) at several thresholds, including tau = 1."""
    tn, td = tau
    texts = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["overlap"]
        for r in dedup.prefix_jaccard_pairs(df, "doc_id", "text", tn, td).collect()
    }
    sets = {i: set(toks) for i, toks in enumerate(token_lists)}
    want = {}
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            o = len(sets[a] & sets[b])
            if o * td >= (len(sets[a]) + len(sets[b]) - o) * tn:
                want[(a, b)] = o
    assert got == want


@_slow
@given(
    st.lists(st.integers(-30, 30), min_size=2, max_size=10),
    st.lists(st.integers(-30, 30), min_size=2, max_size=10),
)
def test_dtw_band_full_width_matches_classic_property(spark, a, b):
    """With the band wider than both series, banded DTW must equal the
    CLASSIC unbanded DTW computed by an independent full-matrix DP
    (no band logic, no sentinel — a different code path)."""
    from healthcare_api_spark.operators.temporal import dtw_band_join

    def classic(x, y):
        n, m = len(x), len(y)
        D = [[None] * m for _ in range(n)]
        for i in range(n):
            for j in range(m):
                c = (x[i] - y[j]) ** 2
                if i == 0 and j == 0:
                    D[i][j] = c
                elif i == 0:
                    D[i][j] = c + D[0][j - 1]
                elif j == 0:
                    D[i][j] = c + D[i - 1][0]
                else:
                    D[i][j] = c + min(D[i - 1][j], D[i][j - 1], D[i - 1][j - 1])
        return D[n - 1][m - 1]

    rows = [("a", i, v) for i, v in enumerate(a)] + [
        ("b", i, v) for i, v in enumerate(b)
    ]
    df = spark.createDataFrame(rows, "k string, i int, v long")
    band = max(len(a), len(b))
    got = dtw_band_join(df, "k", "i", "v", band=band).collect()[0]
    assert got["dtw"] == classic(a, b)
    # self-distance is always 0 (diagonal path, zero cost)
    same = spark.createDataFrame(
        [("p", i, v) for i, v in enumerate(a)]
        + [("q", i, v) for i, v in enumerate(a)],
        "k string, i int, v long",
    )
    assert dtw_band_join(same, "k", "i", "v", band=band).collect()[0]["dtw"] == 0


@_slow
@given(st.lists(st.integers(-50, 50), min_size=4, max_size=14))
def test_binseg_gain_equals_sse_drop_property(spark, vals):
    """Every reported gain must EXACTLY equal the within-segment SSE
    reduction of applying that split, computed independently with
    Fraction arithmetic (the u11 matching-bugs rule: an independent
    route through the math, not the engine's formula)."""
    from fractions import Fraction

    from healthcare_api_spark.operators.temporal import binseg_changepoints

    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)], "k string, i int, v long"
    )
    got = sorted(
        (r["step"], r["cp"], r["gain"])
        for r in binseg_changepoints(df, "k", "i", "v", k=2).collect()
    )

    def sse(seg):
        n = len(seg)
        mu = Fraction(sum(seg), n)
        return sum((Fraction(x) - mu) ** 2 for x in seg)

    cps: list[int] = []
    for step, cp, gain in got:
        l = 1 + max([c for c in cps if c < cp], default=0)
        r = min([c for c in cps if c > cp], default=len(vals))
        seg = vals[l - 1 : r]
        left, right = vals[l - 1 : cp], vals[cp : r]
        drop = sse(seg) - sse(left) - sse(right)
        assert abs(gain - float(drop)) < 1e-6 * max(1.0, float(drop))
        cps.append(cp)


@_slow
@given(
    st.lists(
        st.tuples(st.integers(1, 40), st.integers(1, 40), st.integers(1, 9)),
        min_size=1,
        max_size=25,
    )
)
def test_sssp_upper_bounded_by_bfs_hops_property(spark, raw):
    """Weighted distance ≤ max_weight · hop distance for every node
    both operators reach — the two graph metrics must cohere."""
    from healthcare_api_spark.operators.graph import bfs_hops, sssp_weighted

    edges = [(a, b, w) for a, b, w in raw if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, ["s", "d", "w"])
    wmax = max(w for _, _, w in edges)
    src = min(min(a, b) for a, b, _ in edges)
    hops = {
        r["node"]: r["hops"]
        for r in bfs_hops(
            df.select("s", "d"), "s", "d", seeds=[src], max_hops=6
        ).collect()
    }
    dist = {
        r["node"]: r["dist"]
        for r in sssp_weighted(
            df, "s", "d", "w", sources=[src], rounds=6
        ).collect()
    }
    assert set(hops) == set(dist)  # same reachable set at equal rounds
    for node, h in hops.items():
        assert dist[node] <= wmax * h
        if h > 0:
            assert dist[node] >= 1  # weights ≥ 1 in this fixture
