"""Property-based parser tests (hypothesis; SURVEY.md §5.2.4):
round-trips through the lexical form must be lossless, and no input
may ever crash a parser — failures surface as (parsed=null, bad=true),
never as exceptions. Examples are batched (one Spark job per
hypothesis example, each carrying many values)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, example, given, seed, settings, strategies as st
from pyspark.sql import functions as F

from goodtables_pandas_py_spark.parsers import parse_field
from goodtables_pandas_py_spark.schema import Field

FAST = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _parse_batch(spark, values, field):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    pf = parse_field(F.col("raw"), field, [""])
    return df.select(
        F.col("raw"), pf.parsed.alias("p"), pf.bad.alias("b")
    ).collect()


@FAST
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                min_size=1, max_size=30))
def test_integer_roundtrip(spark, xs):
    rows = _parse_batch(spark, [str(x) for x in xs], Field("v", type="integer"))
    for x, r in zip(xs, rows):
        assert not r["b"], r
        assert r["p"] == x


@FAST
@given(st.lists(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    min_size=1, max_size=30))
def test_number_roundtrip(spark, xs):
    rows = _parse_batch(spark, [repr(x) for x in xs], Field("v", type="number"))
    for x, r in zip(xs, rows):
        assert not r["b"], r
        assert r["p"] == pytest.approx(x, rel=1e-15, abs=1e-300)


@FAST
@given(st.lists(st.dates(min_value=dt.date(1, 1, 1),
                         max_value=dt.date(9999, 12, 31)),
                min_size=1, max_size=30))
def test_date_roundtrip(spark, ds):
    rows = _parse_batch(
        spark, [d.isoformat() for d in ds], Field("v", type="date")
    )
    for d, r in zip(ds, rows):
        assert not r["b"], (d, r)
        assert r["p"] == d


@FAST
@given(st.lists(st.datetimes(min_value=dt.datetime(1, 1, 1),
                             max_value=dt.datetime(9999, 12, 31, 23, 59, 59)),
                min_size=1, max_size=30))
def test_datetime_roundtrip(spark, ts):
    rows = _parse_batch(
        spark,
        # %Y does not zero-pad years < 1000 on Linux → format manually
        [f"{x.year:04d}-{x:%m-%dT%H:%M:%S}" for x in ts],
        Field("v", type="datetime"),
    )
    for x, r in zip(ts, rows):
        assert not r["b"], (x, r)
        assert r["p"] == x.replace(microsecond=0)


#: types whose parsers must never raise on arbitrary text
_TOTAL_TYPES = [
    ("integer", "default"), ("number", "default"), ("boolean", "default"),
    ("date", "default"), ("time", "default"), ("datetime", "default"),
    ("year", "default"), ("yearmonth", "default"), ("duration", "default"),
    ("geopoint", "default"), ("object", "default"), ("array", "default"),
    ("string", "email"), ("string", "uuid"), ("string", "binary"),
]


@FAST
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=20))
def test_parsers_total_on_arbitrary_text(spark, texts):
    """No crash on any input; bad ⇔ (raw non-null ∧ parsed null)."""
    # one fused job across every parser: mirrors the validator's shape
    df = spark.createDataFrame([(t,) for t in texts], "raw string")
    cols = []
    for i, (typ, fmt) in enumerate(_TOTAL_TYPES):
        pf = parse_field(F.col("raw"), Field("v", type=typ, format=fmt), [""])
        cols.append(pf.bad.alias(f"b{i}"))
        cols.append(pf.parsed.isNull().alias(f"n{i}"))
    rows = df.select(F.col("raw").isNull().alias("rawnull"), *cols).collect()
    for r in rows:
        for i in range(len(_TOTAL_TYPES)):
            if r[f"b{i}"]:
                assert not r["rawnull"] and r[f"n{i}"]


_duration_parts = st.tuples(
    st.integers(min_value=0, max_value=200),      # years
    st.integers(min_value=0, max_value=40),       # months
    st.integers(min_value=0, max_value=400),      # days
    st.integers(min_value=0, max_value=50),       # hours
    st.integers(min_value=0, max_value=90),       # minutes
    st.decimals(min_value=0, max_value=90, places=3),  # seconds
)


def _iso_duration(y, mo, d, h, mi, s):
    """Render ISO 8601 duration, omitting zero components (PT0S when
    everything is zero — the canonical zero duration)."""
    date = "".join(
        f"{v}{u}" for v, u in [(y, "Y"), (mo, "M"), (d, "D")] if v
    )
    time = "".join(
        f"{v}{u}" for v, u in [(h, "H"), (mi, "M"), (s, "S")] if v
    )
    if not date and not time:
        return "PT0S"
    return f"P{date}" + (f"T{time}" if time else "")


@FAST
@given(st.lists(_duration_parts, min_size=1, max_size=20))
def test_duration_roundtrip(spark, parts):
    """P18: rendered ISO 8601 durations parse back to the exact
    (months, seconds) decomposition — the two parsers with the most
    hand-rolled regex surface get the hypothesis treatment (VERDICT r4
    §next 7). Covers component omission, the T separator, fractional
    seconds, and the M-means-months-or-minutes ambiguity."""
    texts = [_iso_duration(*p) for p in parts]
    rows = _parse_batch(spark, texts, Field("v", type="duration"))
    for (y, mo, d, h, mi, s), txt, r in zip(parts, texts, rows):
        assert not r["b"], (txt, r)
        assert r["p"]["months"] == y * 12 + mo, (txt, r)
        want_secs = d * 86400 + h * 3600 + mi * 60 + float(s)
        assert r["p"]["seconds"] == pytest.approx(want_secs), (txt, r)


@FAST
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=400),
                          st.integers(min_value=1, max_value=53)),
                min_size=1, max_size=20))
def test_duration_weeks_form_roundtrip(spark, pairs):
    """P18 weeks: PnW (and the parser's lenient PnWnD mix) decompose to
    seconds with zero months."""
    texts = [f"P{w}W" if d == 0 else f"P{w}W{d}D" for d, w in pairs]
    rows = _parse_batch(spark, texts, Field("v", type="duration"))
    for (d, w), txt, r in zip(pairs, texts, rows):
        assert not r["b"], (txt, r)
        assert r["p"]["months"] == 0
        assert r["p"]["seconds"] == pytest.approx((w * 7 + d) * 86400), (txt, r)


_lon = st.floats(min_value=-180, max_value=180, allow_nan=False)
_lat = st.floats(min_value=-90, max_value=90, allow_nan=False)


@FAST
@given(st.lists(st.tuples(_lon, _lat), min_size=1, max_size=20),
       st.sampled_from(["default", "array", "object"]))
def test_geopoint_roundtrip_all_formats(spark, points, fmt):
    """P19: every geopoint format round-trips in-range lon/lat exactly
    (repr → try_cast double is lossless for binary64)."""
    def render(lon, lat):
        if fmt == "default":
            return f"{lon!r}, {lat!r}"
        if fmt == "array":
            return f"[{lon!r}, {lat!r}]"
        return f'{{"lon": {lon!r}, "lat": {lat!r}}}'

    texts = [render(lon, lat) for lon, lat in points]
    rows = _parse_batch(
        spark, texts, Field("v", type="geopoint", format=fmt)
    )
    for (lon, lat), txt, r in zip(points, texts, rows):
        assert not r["b"], (txt, r)
        assert r["p"]["lon"] == lon and r["p"]["lat"] == lat, (txt, r)


@FAST
@given(st.lists(st.tuples(
    st.floats(min_value=180.0001, max_value=1e6, allow_nan=False),
    st.floats(min_value=-90, max_value=90, allow_nan=False),
), min_size=1, max_size=10))
def test_geopoint_out_of_range_rejected(spark, points):
    """P19 range check: |lon| > 180 (either sign) is a
    type-or-format-error, parsed stays null."""
    texts = [
        f"{lon if i % 2 == 0 else -lon!r}, {lat!r}"
        for i, (lon, lat) in enumerate(points)
    ]
    rows = _parse_batch(spark, texts, Field("v", type="geopoint"))
    for txt, r in zip(texts, rows):
        assert r["b"] and r["p"] is None, (txt, r)


@FAST
@given(st.lists(st.decimals(min_value=-10**12, max_value=10**12, places=2),
                min_size=1, max_size=20))
def test_number_locale_options_roundtrip(spark, xs):
    """European rendering (groupChar='.', decimalChar=',') parses back
    exactly under the matching lexical options."""
    def euro(d):
        s = f"{d:,.2f}"          # 1,234,567.89
        return s.replace(",", "#").replace(".", ",").replace("#", ".")
    fld = Field("v", type="number", group_char=".", decimal_char=",")
    rows = _parse_batch(spark, [euro(x) for x in xs], fld)
    for x, r in zip(xs, rows):
        assert not r["b"], (x, r)
        assert r["p"] == pytest.approx(float(x))


# --- dedup pipeline invariants on random corpora ---------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=3, max_size=12),
        min_size=2,
        max_size=16,
    )
)
def test_minhash_pairs_subset_of_exact_jaccard(spark, corpora):
    """On ANY random corpus: every (id_a, id_b, jaccard) the MinHash
    pipeline emits must (a) be canonical (a < b), (b) carry the exact
    Jaccard of the docs' 3-shingle sets as computed INDEPENDENTLY in
    Python, and (c) clear the threshold. LSH may MISS pairs (recall
    is probabilistic) but may never emit a wrong one — the verify
    step makes precision exact, and this asserts it with zero Spark
    machinery in the reference computation."""
    from goodtables_pandas_py_spark.extensions.dedup import (
        minhash_dedup_pairs,
    )

    docs = [(i, " ".join(words)) for i, words in enumerate(corpora)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = minhash_dedup_pairs(df, threshold=0.5, num_hashes=32,
                              num_bands=8).collect()

    def sh(words):
        toks = " ".join(words).lower().split()
        return {
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    sets = {i: sh(w) for i, w in enumerate(corpora)}
    for r in got:
        a, b, j = r["id_a"], r["id_b"], r["jaccard"]
        assert a < b, (a, b)
        sa, sb = sets[a], sets[b]
        union = len(sa | sb)
        exact = (len(sa & sb) / union) if union else 0.0
        assert abs(j - exact) < 1e-9, (a, b, j, exact)
        assert j >= 0.5


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_pair_components_matches_union_find(spark, edges):
    """pair_components on ANY random edge list must produce exactly
    the components a plain Python union-find computes, with each
    node labeled by its component's min id — self-loops and duplicate
    edges included."""
    from goodtables_pandas_py_spark.extensions.dedup import (
        pair_components,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in pair_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {}
    for members in comps.values():
        m = min(members)
        for n in members:
            want[n] = m
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                # quantized to 3 decimals: DENORMAL components make
                # norm() underflow to exact 0 in the HOF path but not
                # numpy's, flipping tie order between two ~0 cosines
                # (found by hypothesis; a float artifact, not a
                # ranking difference at any real magnitude)
                st.floats(
                    min_value=-4, max_value=4,
                    allow_nan=False, allow_infinity=False,
                ).map(lambda x: round(x, 3)),
                min_size=4, max_size=4,
            ),
        ),
        min_size=2,
        max_size=14,
    ),
    st.integers(min_value=1, max_value=4),
)
# power-of-two copies of one vector (exact cosine ties on every path),
# a NULL, a ragged and a zero-norm row
@example(
    vecs=[
        [1.0, 2.0, 0.0, -1.0],
        [2.0, 4.0, 0.0, -2.0],
        None,
        [0.5, 1.0, 0.0, -0.5],
        [1.0, 1.0, 1.0],
        [0.0, 0.0, 0.0, 0.0],
        [-1.0, 0.5, 2.0, 0.25],
        [4.0, 8.0, 0.0, -4.0],
    ],
    k=2,
)
@seed(13)
def test_knn_join_blocked_matches_loop_oracle(spark, vecs, k):
    """The blocked-matmul exact kNN must agree with the legacy
    cross-join+window form on ANY random vector table — including
    null vectors on either side and zero-norm vectors. Scores compare
    to 1e-9 (both paths are float64). NEIGHBOR IDS may legitimately
    diverge when two candidates' cosines tie (hypothesis found
    parallel vectors whose mathematically-equal cosines land on
    either side of the 1e-9 round under BLAS vs sequential summation
    — the same documented tie semantics as centroid assignment), so
    ids compare exactly only where the oracle's score is a STRICT
    winner against its runner-up."""
    from goodtables_pandas_py_spark.extensions.similarity import knn_join

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def per_query(out):
        by_q = {}
        for r in out.collect():
            by_q.setdefault(r["left_id"], []).append(
                (r["right_id"],
                 None if r["cosine"] is None else round(r["cosine"], 9))
            )
        return {q: sorted(v) for q, v in by_q.items()}

    got = per_query(knn_join(df, df, k=k, method="blocked"))
    want = per_query(knn_join(df, df, k=k, method="loop"))
    # ALL candidate scores per query (k = table size): tie detection
    # must see candidates the top-k CUT — a tie straddling the k
    # boundary (two parallel vectors, one kept by each path) is
    # invisible inside want[q] alone (found by hypothesis in r11)
    full = per_query(knn_join(df, df, k=len(vecs), method="loop"))
    assert set(got) == set(want)
    for q in want:
        g_scores = sorted((c for _, c in got[q] if c is not None),
                          reverse=True)
        w_scores = sorted((c for _, c in want[q] if c is not None),
                          reverse=True)
        # score MULTISETS always agree to 1e-9
        assert len(g_scores) == len(w_scores)
        assert all(
            abs(a - b) <= 2e-9 for a, b in zip(g_scores, w_scores)
        ), (q, g_scores, w_scores)
        # ids agree wherever the oracle's score is strictly distinct
        # from every other candidate score (no tie to hide behind) —
        # candidates from the FULL ranking, not just the kept top-k
        w_pairs = [(c, rid) for rid, c in want[q] if c is not None]
        all_pairs = [(c, rid) for rid, c in full.get(q, []) if c is not None]
        got_ids = {rid for rid, c in got[q] if c is not None}
        for wc, wid in w_pairs:
            distinct = all(
                abs(wc - oc) > 2e-9 for oc, oid in all_pairs if oid != wid
            )
            if distinct:
                assert wid in got_ids, (q, wid, wc, got[q])
        assert sum(c is None for _, c in got[q]) == sum(
            c is None for _, c in want[q]
        )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["aa", "bb", "cc", "dd"]),  # few distinct texts
            st.integers(min_value=0, max_value=99),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_exact_dedup_keeps_min_per_group(spark, rows):
    """exact_dedup(keep=...) on random data must keep exactly one row
    per key group — the one with the smallest keep value — matching a
    plain Python groupby-min."""
    from goodtables_pandas_py_spark.extensions.dedup import exact_dedup

    data = [(i, t, o) for i, (t, o) in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, text string, ord long")
    got = {
        r["text"]: (r["ord"], r["rid"])
        for r in exact_dedup(df, ["text"], keep="ord").collect()
    }
    want: dict[str, tuple[int, int]] = {}
    for i, (t, o) in enumerate(rows):
        cur = want.get(t)
        if cur is None or (o, i) < cur:
            want[t] = (o, i)
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-2, max_value=2,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=6, max_size=6,
        ),
        min_size=2,
        max_size=12,
    )
)
def test_embedding_near_dups_precision_exact(spark, vecs):
    """Every pair embedding_near_dups emits on random vectors must be
    canonical and carry the true cosine (float64 Python recompute,
    1e-6 tolerance for expression-order differences) ≥ threshold.
    Recall is probabilistic; precision is exact — this asserts it."""
    import math

    from goodtables_pandas_py_spark.extensions.dedup import (
        embedding_near_dups,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = embedding_near_dups(df, threshold=0.9, num_bands=8,
                              planes_per_band=4).collect()

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb == 0:
            return 0.0
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    for r in got:
        a, b, c = r["id_a"], r["id_b"], r["cosine"]
        assert a < b
        exact = cos(vecs[a], vecs[b])
        assert abs(c - exact) < 1e-6, (a, b, c, exact)
        assert c >= 0.9


# --- CSV dialect round-trip through the real reader ------------------------

_CELL = st.text(
    alphabet=st.characters(
        whitelist_categories=["L", "N", "P", "Zs"],
        # newlines excluded: multiline CSV is an explicit opt-in
        # (Dialect.multiline) because it makes files non-splittable
        blacklist_characters="\r\n",
    ),
    max_size=12,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.tuples(_CELL, _CELL, _CELL), min_size=1, max_size=8),
    st.sampled_from([",", ";", "|", "\t"]),
    st.sampled_from(['"', "'"]),
)
def test_csv_dialect_roundtrip_via_python_writer(
    spark, tmp_path_factory, rows, delim, quote
):
    """Cells written by Python's csv module under a random dialect
    (delimiter × quote char, doublequote escaping) must come back
    VERBATIM through read_csv_stringly — including cells containing
    the delimiter, the quote char, or unicode. An independent writer
    keeps this from testing Spark-vs-Spark."""
    import csv

    from goodtables_pandas_py_spark.schema import Dialect
    from goodtables_pandas_py_spark.sources import read_csv_stringly

    d = tmp_path_factory.mktemp("csvprop")
    path = str(d / "t.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(
            f, delimiter=delim, quotechar=quote, quoting=csv.QUOTE_ALL,
            doublequote=True, lineterminator="\r\n",
        )
        w.writerow(["c1", "c2", "c3"])
        for r in rows:
            w.writerow(list(r))

    df = read_csv_stringly(
        spark, path,
        Dialect(delimiter=delim, quote_char=quote, double_quote=True),
    )
    assert df.columns == ["c1", "c2", "c3"]
    got = [tuple(r) for r in df.collect()]
    # cells round-trip VERBATIM — including quoted empty strings,
    # which the reader's emptyValue option keeps as '' (missing-value
    # mapping is schema policy applied later, never reader policy)
    assert got == [tuple(r) for r in rows]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.tuples(_CELL, _CELL), min_size=1, max_size=6),
    st.sampled_from([",", ";", "|"]),
)
def test_csv_escapechar_dialect_roundtrip(
    spark, tmp_path_factory, rows, delim
):
    """The escapeChar (non-doubling) dialect path: cells containing
    quotes/backslashes written by Python's csv with escapechar='\\\\'
    must round-trip verbatim through a Dialect(escape_char=...)."""
    import csv

    from goodtables_pandas_py_spark.schema import Dialect
    from goodtables_pandas_py_spark.sources import read_csv_stringly

    d = tmp_path_factory.mktemp("csvesc")
    path = str(d / "t.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(
            f, delimiter=delim, quotechar='"', quoting=csv.QUOTE_ALL,
            doublequote=False, escapechar="\\", lineterminator="\r\n",
        )
        w.writerow(["c1", "c2"])
        for r in rows:
            w.writerow(list(r))

    df = read_csv_stringly(
        spark, path,
        Dialect(delimiter=delim, quote_char='"', double_quote=False,
                escape_char="\\"),
    )
    got = [tuple(r) for r in df.collect()]
    assert got == [tuple(r) for r in rows]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=["L", "N", "P", "Zs"],
                max_codepoint=0x2FF,  # Latin + extensions: keeps the
                # Python reference's char classes aligned with the
                # ASCII-oriented punct regex
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_clean_corpus_matches_python_reference(spark, texts):
    """clean_corpus decisions on arbitrary text must match an
    independent pure-Python implementation of the same rules
    (token count, mean word length, punct ratio) — catches drift
    between the Spark Column expressions and the documented rule
    definitions."""
    import re

    from goodtables_pandas_py_spark.extensions.text import clean_corpus

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["keep"], set(r["drop_reasons"]))
        for r in clean_corpus(df, with_reasons=True).collect()
    }

    punct_re = re.compile(r"[!-/:-@\[-`{-~]")
    # the ENGINE whitespace contract is ASCII \s (Java regex in Spark,
    # RE2 in the DuckDB oracles) — Python's str.split() additionally
    # splits on Unicode spaces like \xa0, so mirror the engine exactly:
    # trim ASCII spaces, then split on ASCII whitespace runs
    ascii_ws = re.compile(r"[ \t\n\x0b\f\r]+")
    for i, t in enumerate(texts):
        trimmed = t.strip(" ")
        toks = [] if trimmed == "" else ascii_ws.split(trimmed)
        n_tok = len(toks)
        n_chars = len(t)
        n_tok_chars = len(re.sub(r"[ \t\n\x0b\f\r]", "", t))
        mean_wl = n_tok_chars / max(n_tok, 1)
        punct_ratio = len(punct_re.findall(t)) / max(n_chars, 1)
        want_reasons = set()
        if n_tok < 5:
            want_reasons.add("too_few_tokens")
        if n_tok > 100_000:
            want_reasons.add("too_many_tokens")
        if mean_wl < 2.0:
            want_reasons.add("mean_word_too_short")
        if mean_wl > 15.0:
            want_reasons.add("mean_word_too_long")
        if punct_ratio > 0.3:
            want_reasons.add("too_much_punct")
        assert got[i] == (not want_reasons, want_reasons), (
            i, repr(t), got[i], want_reasons,
        )


def _py_repetition(t: str) -> tuple:
    """Pure-Python mirror of text.repetition_features (engine ASCII
    whitespace contract)."""
    import re
    from collections import Counter

    ascii_ws = r"[ \t\n\x0b\f\r]"
    lines = [
        re.sub(f"^{ascii_ws}+|{ascii_ws}+$", "", ln)
        for ln in re.split(r"\r?\n", t or "")
    ]
    lines = [ln for ln in lines if ln != ""]
    n_lines = len(lines)
    counts = Counter(lines)
    dup_n = sum(c for c in counts.values() if c > 1)
    dup_chars = sum(len(k) * c for k, c in counts.items() if c > 1)
    total_chars = sum(len(ln) for ln in lines)
    dup_line_frac = dup_n / n_lines if n_lines else 0.0
    dup_line_char_frac = dup_chars / total_chars if total_chars else 0.0

    normed = re.sub(ascii_ws + "+", " ", (t or "").lower()).strip(" ")
    toks = [] if normed == "" else normed.split(" ")

    def top_frac(k):
        if len(toks) < k:
            return 0.0
        grams = Counter(
            " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
        )
        # Gopher: the MOST FREQUENT gram (ties -> larger char mass),
        # chars = count * len — implemented from the spec, not by
        # mirroring the engine's fold
        c, top = max(
            ((c, len(g) * c) for g, c in grams.items()),
        )
        return top / max(len(normed), 1)

    return (dup_line_frac, dup_line_char_frac, top_frac(2), top_frac(3))


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("ab x") + ["\t", "\n", "\r", "\x0b", "\f"]
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=10,
    )
)
@pytest.mark.slow
def test_repetition_features_match_python_reference(spark, texts):
    """The sorted-run fold behind repetition_features (dup counts,
    top-gram chars) must agree with a straightforward Counter-based
    Python implementation on whitespace-adversarial inputs."""
    from goodtables_pandas_py_spark.extensions.text import (
        repetition_features,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["rep"]["dup_line_frac"],
            r["rep"]["dup_line_char_frac"],
            r["rep"]["top_2gram_char_frac"],
            r["rep"]["top_3gram_char_frac"],
        )
        for r in df.select(
            "doc_id", repetition_features(F.col("text")).alias("rep")
        ).collect()
    }
    for i, t in enumerate(texts):
        want = _py_repetition(t)
        assert got[i] == pytest.approx(want), (i, repr(t), got[i], want)


# ------------------------------------------------------- temporal operators


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=1, max_size=40,
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1100, 1100),
                  st.integers(0, 200)),
        min_size=0, max_size=25,
    ),
)
def test_range_join_matches_python_reference(spark, pts, ivs):
    """range_join == the O(n·m) pure-Python definition on arbitrary
    keyed integer inputs (hypothesis shrinks any divergence to a
    minimal counterexample)."""
    from goodtables_pandas_py_spark.extensions.temporal import range_join

    pdf = spark.createDataFrame(
        [(f"k{k}", v, i) for i, (k, v) in enumerate(pts)],
        "key string, v long, pid long",
    )
    idf = spark.createDataFrame(
        [(f"k{k}", lo, lo + span, j) for j, (k, lo, span) in enumerate(ivs)],
        "key string, lo long, hi long, iid long",
    )
    got = {
        (r["pid"], r["iid_right"])
        for r in range_join(
            pdf, idf, "v", "lo", "hi", by=["key"], bin_width=37
        ).collect()
    }
    want = {
        (i, j)
        for i, (pk, v) in enumerate(pts)
        for j, (ik, lo, span) in enumerate(ivs)
        if pk == ik and lo <= v <= lo + span
    }
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 5000)),
             min_size=1, max_size=60, unique=True),
    st.integers(1, 400),
)
def test_session_ids_properties(spark, events, gap):
    """Invariants on arbitrary inputs: session index is 0-based,
    non-decreasing in time per key, increments exactly when the gap
    to the previous event exceeds `gap`."""
    from goodtables_pandas_py_spark.extensions.temporal import session_ids

    df = spark.createDataFrame(
        [(f"u{k}", ts, i) for i, (k, ts) in enumerate(events)],
        "user string, ts long, eid long",
    )
    rows = session_ids(df, "ts", by=["user"], gap=gap).collect()
    per_user: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["user"], r["ts"])):
        per_user.setdefault(r["user"], []).append(
            (r["ts"], r["session_id"]["n"])
        )
    for u, seq in per_user.items():
        assert seq[0][1] == 0, (u, seq)
        for (t0, s0), (t1, s1) in zip(seq, seq[1:]):
            expect_new = (t1 - t0) > gap
            assert s1 == s0 + (1 if expect_new else 0), (u, seq)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(0, 1), st.integers(-500, 500),
                       st.integers(0, 60)), min_size=1, max_size=25),
    st.lists(st.tuples(st.integers(0, 1), st.integers(-550, 550),
                       st.integers(0, 40)), min_size=0, max_size=20),
)
def test_interval_join_matches_python_reference(spark, ls, rs):
    """interval_join == the O(n·m) overlap definition on arbitrary
    keyed integer spans, each pair exactly once."""
    from goodtables_pandas_py_spark.extensions.temporal import interval_join

    ldf = spark.createDataFrame(
        [(f"k{k}", lo, lo + w, i) for i, (k, lo, w) in enumerate(ls)],
        "key string, lo long, hi long, sid long",
    )
    rdf = spark.createDataFrame(
        [(f"k{k}", lo, lo + w, j) for j, (k, lo, w) in enumerate(rs)],
        "key string, lo long, hi long, oid long",
    )
    got = [
        (r["sid"], r["oid_right"])
        for r in interval_join(
            ldf, rdf, ("lo", "hi"), ("lo", "hi"), by=["key"], bin_width=23
        ).collect()
    ]
    assert len(got) == len(set(got))
    want = {
        (i, j)
        for i, (lk, llo, lw) in enumerate(ls)
        for j, (rk, rlo, rw) in enumerate(rs)
        if lk == rk and llo <= rlo + rw and rlo <= llo + lw
    }
    assert set(got) == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from(
                [
                    "the quick brown fox jumps",
                    "cookie banner accept all",
                    "short",
                    "lorem ipsum dolor sit amet",
                    "x" * 7,
                    "",
                ]
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=14,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_remove_boilerplate_matches_python_reference(spark, docs, max_docs):
    """remove_boilerplate_lines (two-phase hash-count + exact string
    verify) must reproduce an independent pure-Python implementation
    byte-exactly on random corpora built from a small line vocabulary
    (small vocab = lines recur across docs, exercising the offender
    path; min_chars default 6 keeps 'short' and '' as never-counted)."""
    texts = ["\n".join(lines) for lines in docs]
    min_chars = 6

    # pure-Python reference
    from collections import defaultdict

    line_docs = defaultdict(set)
    for i, t in enumerate(texts):
        for ln in t.split("\n"):
            if len(ln.strip()) >= min_chars:
                line_docs[ln.strip()].add(i)
    offenders = {ln for ln, ds in line_docs.items() if len(ds) > max_docs}
    expected = {}
    for i, t in enumerate(texts):
        kept = [
            ln for ln in t.split("\n") if ln.strip() not in offenders
            or len(ln.strip()) < min_chars
        ]
        if kept:
            expected[i] = "\n".join(kept)

    from goodtables_pandas_py_spark.extensions.text import (
        remove_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate_lines(
            df, max_docs=max_docs, min_chars=min_chars
        ).collect()
    }
    assert got == expected


@FAST
@given(
    n_tokens=st.integers(min_value=0, max_value=40),
    max_tokens=st.integers(min_value=1, max_value=12),
    data=st.data(),
)
def test_chunk_text_windows_match_python_reference(
    spark, n_tokens, max_tokens, data
):
    """chunk_text == a direct Python sliding-window chunker for every
    (doc length, max_tokens, stride) combination: same chunk count,
    same texts, same order."""
    from goodtables_pandas_py_spark.extensions.text import chunk_text

    stride = data.draw(st.integers(min_value=1, max_value=max_tokens))
    toks = [f"t{i}" for i in range(n_tokens)]
    doc = " ".join(toks)
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    got = [
        (r["chunk_id"], r["chunk_text"], r["n_tokens"])
        for r in chunk_text(
            df, max_tokens=max_tokens, stride=stride
        ).orderBy("chunk_id").collect()
    ]

    # reference: starts at stride multiples; stop once a window
    # reaches the end (no redundant suffix windows)
    expected = []
    if n_tokens > 0:
        s = 0
        while True:
            w = toks[s:s + max_tokens]
            expected.append((len(expected), " ".join(w), len(w)))
            if s + max_tokens >= n_tokens:
                break
            s += stride
    assert got == expected


# --- exact-substring span dedup vs a pure-Python reference ----------------


def _py_dup_spans(texts: dict[int, str], k: int, min_count: int = 2):
    """Sequential reference for spans.dup_spans: count every k-token
    window corpus-wide, keep docs' duplicated window starts, merge
    overlapping/touching intervals."""
    from collections import Counter, defaultdict

    cnt: Counter = Counter()
    occ: list[tuple[int, int, str]] = []
    for i, t in texts.items():
        w = (t or "").split()
        for s in range(0, len(w) - k + 1):
            ws = " ".join(w[s : s + k])
            cnt[ws] += 1
            occ.append((i, s, ws))
    starts = defaultdict(list)
    for i, s, ws in occ:
        if cnt[ws] >= min_count:
            starts[i].append(s)
    out = set()
    for i, ss in starts.items():
        ss.sort()
        merged: list[list[int]] = []
        for s in ss:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], s + k)
            else:
                merged.append([s, s + k])
        for a, b in merged:
            out.add((i, a, b))
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
@pytest.mark.slow
def test_dup_spans_matches_python_reference(spark, docs, k):
    """dup_spans over tiny random corpora (4-token alphabet forces
    dense duplication, within- and cross-doc) equals the sequential
    reference exactly — spans, offsets, merging."""
    from goodtables_pandas_py_spark.extensions import spans as xspans

    texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in xspans.dup_spans(df, k=k).collect()
    }
    assert got == _py_dup_spans(texts, k)


# --- unigram LM scoring vs a pure-Python reference -------------------------


def _py_unigram_milli(texts: dict[int, str]):
    """Sequential reference for text.unigram_logprob (self-trained):
    corpus unigram counts over lowercased whitespace tokens, per-token
    milli-nats floor((ln N - ln c)*1000 + 0.5), per-doc integer sums."""
    import math
    from collections import Counter

    toks = {i: (t or "").strip().lower().split() for i, t in texts.items()}
    cnt = Counter(w for ws in toks.values() for w in ws)
    n = sum(cnt.values())
    out = {}
    for i, ws in toks.items():
        if not ws:
            out[i] = (0, None)
            continue
        m = sum(
            math.floor((math.log(n) - math.log(cnt[w])) * 1000 + 0.5)
            for w in ws
        )
        out[i] = (len(ws), m)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "Dd"]),
                 min_size=0, max_size=10),
        min_size=1,
        max_size=8,
    )
)
@pytest.mark.slow
def test_unigram_logprob_matches_python_reference(spark, docs):
    """Exact integer milli-nat parity with the sequential reference on
    random corpora (mixed case exercises the lowercase path; empty
    docs the null-score path)."""
    from goodtables_pandas_py_spark.extensions import text as xtext

    texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["xent_milli"])
           for r in xtext.unigram_logprob(df).collect()}
    assert got == _py_unigram_milli(texts)


def _py_dsir_milli(texts, tgt_ids, b):
    """Sequential reference for dsir.dsir_logweights: hashed
    uni+bigram bag features (first-8-hex md5 ints mod b), Laplace +1
    multinomials, per-doc integer milli-nat sums."""
    import hashlib
    import math
    from collections import Counter

    def feats(t):
        ws = (t or "").strip().lower().split()
        grams = list(ws) + [" ".join(ws[i:i + 2]) for i in range(len(ws) - 1)]
        return [
            int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) % b
            for g in grams
        ]

    ct, cr = Counter(), Counter()
    fs = {i: feats(t) for i, t in texts.items()}
    for i, f in fs.items():
        cr.update(f)
        if i in tgt_ids:
            ct.update(f)
    nt, nr = sum(ct.values()), sum(cr.values())
    out = {}
    for i, f in fs.items():
        if not f:
            out[i] = (0, None)
            continue
        m = sum(
            math.floor(
                (
                    math.log(ct[x] + 1.0)
                    - math.log(float(nt + b))
                    - math.log(cr[x] + 1.0)
                    + math.log(float(nr + b))
                )
                * 1000
                + 0.5
            )
            for x in f
        )
        out[i] = (len(f), m)
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(["x", "yy", "zzz", "w0"]),
                     min_size=0, max_size=8),
            st.booleans(),
        ),
        min_size=2,
        max_size=8,
    ).filter(lambda rows: any(t for _, t in rows))
)
@pytest.mark.slow
def test_dsir_logweights_matches_python_reference(spark, rows):
    """Exact parity of DSIR milli-nat weights with the sequential
    reference — featurization (incl. bigram order), engine-portable
    md5 bucketing, Laplace smoothing, and the integer rounding all
    have to line up for this to pass."""
    from goodtables_pandas_py_spark.extensions import dsir as xdsir

    texts = {i: " ".join(ws) for i, (ws, _) in enumerate(rows)}
    tgt_ids = {i for i, (_, is_t) in enumerate(rows) if is_t}
    df = spark.createDataFrame(
        [(i, t, i in tgt_ids) for i, t in texts.items()],
        "doc_id long, text string, is_tgt boolean",
    )
    target = df.where(F.col("is_tgt"))
    got = {r["doc_id"]: (r["n_feats"], r["logw_milli"])
           for r in xdsir.dsir_logweights(df, target, num_buckets=64).collect()}
    assert got == _py_dsir_milli(texts, tgt_ids, 64)


def _py_bigram_milli(texts: dict[int, str]):
    """Sequential reference for text.bigram_logprob (self-trained
    stupid backoff — the backoff branch is dead when self-trained)."""
    import math
    from collections import Counter

    toks = {i: (t or "").strip().lower().split() for i, t in texts.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    bi = Counter(
        (ws[j], ws[j + 1])
        for ws in toks.values()
        for j in range(len(ws) - 1)
    )
    n = sum(uni.values())
    out = {}
    for i, ws in toks.items():
        if not ws:
            out[i] = (0, None)
            continue
        m = math.floor((math.log(n) - math.log(uni[ws[0]])) * 1000 + 0.5)
        for j in range(1, len(ws)):
            m += math.floor(
                (math.log(uni[ws[j - 1]]) - math.log(bi[(ws[j - 1], ws[j])]))
                * 1000
                + 0.5
            )
        out[i] = (len(ws), m)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc"]), min_size=0, max_size=9),
        min_size=1,
        max_size=7,
    )
)
@pytest.mark.slow
def test_bigram_logprob_matches_python_reference(spark, docs):
    """Exact integer milli-nat parity with the sequential stupid-
    backoff reference on random corpora over a 3-token alphabet
    (dense bigram collisions, repeated pairs, empty docs)."""
    from goodtables_pandas_py_spark.extensions import text as xtext

    texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["xent_milli"])
           for r in xtext.bigram_logprob(df).collect()}
    assert got == _py_bigram_milli(texts)
