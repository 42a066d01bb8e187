"""Property-based tests for the hand-written byte/array kernels.

The fixed synthetic corpus exercises one code path through each kernel
(`_wav_bytes`/`_ppm_bytes` emit canonical layouts).  Real 100 TB media
crawls are not canonical: RIFF files carry LIST/INFO chunks and
odd-sized word-aligned bodies, PPM headers carry comments and arbitrary
whitespace runs.  Hypothesis generates those layouts and asserts the
parsers recover the exact payload (reference behavior for the decode
surface, `SURVEY.md §2` multimodal rows); the Arrow math kernels are
checked against an independent per-row Python fold on random vectors
(same bit-exactness contract their docstrings promise vs the JVM fold).

These run without Spark wherever the kernel allows (`pandas_udf`
exposes the wrapped function via ``.func``), so hundreds of generated
examples stay cheap; only the distributed prefix-rank property needs a
session.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------- WAV

SAMPLES = st.lists(
    st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200
)


def _riff(chunks: list[tuple[bytes, bytes]]) -> bytes:
    body = b"WAVE"
    for cid, payload in chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"  # RIFF word alignment
    return b"RIFF" + struct.pack("<I", len(body)) + body


@settings(max_examples=200, deadline=None)
@given(
    samples=SAMPLES,
    channels=st.integers(min_value=1, max_value=2),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    junk_before=st.binary(max_size=9),
    junk_after=st.binary(max_size=8),
)
def test_wav_roundtrip_with_foreign_chunks(
    samples, channels, rate, junk_before, junk_after
):
    """_parse_wav must recover fmt + samples exactly from any chunk
    layout: unknown chunks before fmt and between data/end (odd sizes
    included, exercising the word-alignment walk)."""
    from splitserve_spark.operators.multimodal import _parse_wav

    # frames must be whole: pad the sample list to a channel multiple
    while len(samples) % channels:
        samples = samples + [0]
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * 2 * channels, 2 * channels, 16
    )
    payload = _riff(
        [(b"LIST", junk_before), (b"fmt ", fmt), (b"data", data),
         (b"junk", junk_after)]
    )
    ch, r, got = _parse_wav(payload)
    assert (ch, r) == (channels, rate)
    assert got.tolist() == samples


@settings(max_examples=100, deadline=None)
@given(samples=SAMPLES, cut=st.integers(min_value=4, max_value=40))
def test_wav_truncation_always_raises(samples, cut):
    """Any prefix cut inside the header/chunk list must raise, never
    return garbage (the ingest-at-scale contract: malformed rows fail
    loud and get quarantined, not silently mis-decoded)."""
    from splitserve_spark.operators.multimodal import _parse_wav

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    payload = _riff([(b"fmt ", fmt), (b"data", data)])
    with pytest.raises(ValueError):
        _parse_wav(payload[: min(cut, len(payload) - 1)])


# ---------------------------------------------------------------- PPM

WS = st.sampled_from([b" ", b"\n", b"\t", b"\r", b"  ", b"\n\n"])
COMMENT = st.one_of(
    st.just(b""),
    st.just(b"# a comment\n"),
    st.just(b"#\n"),
    st.just(b"# 99 99\n"),  # numbers inside comments must be ignored
)


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    ws1=WS, ws2=WS, c1=COMMENT, c2=COMMENT,
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    trailing=st.binary(max_size=6),
)
def test_ppm_roundtrip_any_header_layout(w, h, ws1, ws2, c1, c2, seed, trailing):
    """_parse_ppm must recover (w, h, pixels) bit-exactly under any
    legal header: comments between tokens, mixed whitespace runs, and
    trailing bytes after the raster (which the format permits)."""
    from splitserve_spark.operators.multimodal import _parse_ppm

    px = np.random.RandomState(seed).randint(0, 256, size=w * h * 3, dtype=np.uint8)
    header = b"P6" + ws1 + c1 + b"%d" % w + ws2 + c2 + b"%d" % h + b" 255\n"
    got_w, got_h, got = _parse_ppm(header + px.tobytes() + trailing)
    assert (got_w, got_h) == (w, h)
    assert np.array_equal(got, px.reshape(h, w, 3))


@settings(max_examples=100, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    short_by=st.integers(min_value=1, max_value=16),
)
def test_ppm_short_raster_always_raises(w, h, short_by):
    from splitserve_spark.operators.multimodal import _parse_ppm

    n = w * h * 3
    payload = b"P6\n%d %d\n255\n" % (w, h) + bytes(max(0, n - short_by))
    with pytest.raises(ValueError):
        _parse_ppm(payload)


# ------------------------------------------------------- Arrow kernels

FLOATS = st.floats(min_value=-100, max_value=100, allow_nan=False, width=64)


@st.composite
def vector_batch(draw):
    """A batch of same-dimension vector pairs (the kernels' contract:
    every embedding in a column shares one dim)."""
    dim = draw(st.integers(min_value=1, max_value=16))
    n = draw(st.integers(min_value=1, max_value=8))
    vec = st.lists(FLOATS, min_size=dim, max_size=dim)
    return [(draw(vec), draw(vec)) for _ in range(n)]


def _fold_dot(a, b):
    """The JVM F.aggregate(zip_with(a,b,*), 0.0, acc+v) fold, verbatim:
    left-to-right IEEE additions starting from 0.0."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


@settings(max_examples=300, deadline=None)
@given(data=vector_batch())
def test_arrow_pair_kernels_match_python_fold(data):
    """_arrow_l2sq / _arrow_cosine == the sequential scalar fold,
    bit-for-bit, on arbitrary same-length vector pairs (the docstring
    contract that keeps every downstream argmin/tie-break stable)."""
    from splitserve_spark.operators.similarity import _arrow_cosine, _arrow_l2sq

    a = pd.Series([list(map(float, p[0])) for p in data])
    b = pd.Series([list(map(float, p[1])) for p in data])

    got_l2 = _arrow_l2sq.func(a, b)
    got_cos = _arrow_cosine.func(a, b)
    for i, (va, vb) in enumerate(data):
        exp_l2 = 0.0
        for x, y in zip(va, vb):
            exp_l2 = exp_l2 + (x - y) * (x - y)
        assert got_l2[i] == exp_l2  # bit-exact, no tolerance
        na, nb = _fold_dot(va, va), _fold_dot(vb, vb)
        if na > 0 and nb > 0:
            exp_cos = _fold_dot(va, vb) / (math.sqrt(na) * math.sqrt(nb))
            assert got_cos[i] == exp_cos
        else:
            assert math.isnan(got_cos[i]) or math.isinf(got_cos[i])


@settings(max_examples=50, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_rows=st.integers(min_value=1, max_value=40),
    n_bits=st.integers(min_value=1, max_value=8),
    n_tables=st.integers(min_value=1, max_value=3),
)
def test_sig_kernel_matches_python_fold(seed, n_rows, n_bits, n_tables):
    """The Arrow sign-bit signature kernel == per-row Python fold over
    random hyperplanes/embeddings: same sequential dot, same sign rule
    (>= 0 → 1), same big-endian bit packing."""
    from splitserve_spark.operators.similarity import EMB_DIM, _sig_kernel

    rs = np.random.RandomState(seed)
    planes = rs.uniform(-1, 1, size=(n_tables * n_bits, EMB_DIM))
    vecs = rs.uniform(-1, 1, size=(n_rows, EMB_DIM))

    got = _sig_kernel(planes.tolist(), n_bits).func(
        pd.Series([v.tolist() for v in vecs])
    )
    for i, v in enumerate(vecs):
        exp = []
        for t in range(n_tables):
            bucket = 0
            for j in range(n_bits):
                dot = _fold_dot(v.tolist(), planes[t * n_bits + j].tolist())
                bucket = (bucket << 1) | (1 if dot >= 0 else 0)
            exp.append(bucket)
        assert list(got[i]) == exp


@st.composite
def topk_case(draw):
    """A corpus drawn with repetition from vector_batch()'s vectors
    plus the zero vector (exact cosine ties, NaN cosines), query rows
    picked from it (own id excluded), arbitrary batch cut points and
    k."""
    pool = [v for pair in draw(vector_batch()) for v in pair]
    pool.append([0.0] * len(pool[0]))
    corpus = draw(st.lists(st.sampled_from(pool), min_size=1, max_size=24))
    ids = draw(st.permutations(range(100, 100 + len(corpus))))
    q_rows = draw(
        st.lists(st.integers(0, len(corpus) - 1), min_size=1, max_size=4)
    )
    cuts = sorted(draw(st.sets(st.integers(1, len(corpus)), max_size=6)))
    k = draw(st.integers(min_value=1, max_value=6))
    return corpus, list(ids), q_rows, cuts, k


@settings(max_examples=300, deadline=None)
@given(case=topk_case())
def test_cosine_topk_kernel_matches_brute_force(case):
    """_cosine_topk_kernel's running top-k over arbitrarily cut
    batches == a full sort of the sequential-fold cosines, bit-exact:
    order cosine DESC with NaN greatest, then id; own id excluded."""
    import pyarrow as pa

    from splitserve_spark.operators.similarity import _cosine_topk_kernel

    corpus, ids, q_rows, cuts, k = case
    q_ids = np.array([ids[r] for r in q_rows], dtype=np.int64)
    q_mat = np.array([corpus[r] for r in q_rows], dtype=np.float64)
    table = pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(corpus, pa.list_(pa.float64()))],
        names=["vec_id", "embedding"],
    )
    bounds = [0, *cuts, len(corpus)]
    batches = [table.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]
    out = pa.Table.from_batches(list(_cosine_topk_kernel(q_ids, q_mat, k)(batches)))
    got = list(zip(*(out.column(c).to_pylist()
                     for c in ("query_id", "neighbor_id", "cosine"))))

    expected = []
    with np.errstate(all="ignore"):
        for qid, qv in zip(q_ids, q_mat.tolist()):
            nq = np.sqrt(np.float64(_fold_dot(qv, qv)))
            scored = [
                (i, np.float64(_fold_dot(qv, v))
                 / (nq * np.sqrt(np.float64(_fold_dot(v, v)))))
                for i, v in zip(ids, corpus) if i != qid
            ]
            scored.sort(key=lambda p: (not math.isnan(p[1]),
                                       0.0 if math.isnan(p[1]) else -p[1],
                                       p[0]))
            expected += [(int(qid), i, float(c)) for i, c in scored[:k]]
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert g[:2] == e[:2], (got, expected)
        assert g[2] == e[2] or (math.isnan(g[2]) and math.isnan(e[2])), (g, e)


def test_fixed_dim_matrix_slices_and_rejects_ragged_rows():
    import pyarrow as pa

    from splitserve_spark.operators.similarity import _fixed_dim_matrix

    arr = pa.array([[1.5, 2.0], [3.0, 4.25], [5.0, 6.0]], pa.list_(pa.float32()))
    got = _fixed_dim_matrix(arr.slice(1, 2), 2)
    assert got.dtype == np.float64
    assert got.tolist() == [[3.0, 4.25], [5.0, 6.0]]
    for bad in (pa.array([[1.0, 2.0], [3.0]]), pa.array([[1.0, 2.0], None])):
        with pytest.raises(ValueError):
            _fixed_dim_matrix(bad, 2)


# ------------------------------------------------ distributed prefix rank

@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    ),
    n_buckets=st.integers(min_value=1, max_value=6),
)
def test_prefix_rank_property_vs_sorted_reference(spark, vals, n_buckets):
    """with_global_prefix == the single-order sorted reference for any
    integer multiset (duplicate sort values land in the same range
    bucket; the unique tiebreak makes the total order deterministic)
    at any bucket count, including n_buckets=1 (degenerate: one
    partition) and n_buckets > n_rows (empty buckets)."""
    from pyspark.sql import functions as F

    from splitserve_spark.operators.prefix_rank import with_global_prefix

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(4)
    got, n, totals = with_global_prefix(
        df, "v", ["id"], sums={"rsum": F.col("v")}, n_buckets=n_buckets
    )
    out = {r["id"]: (r["_rank"], r["rsum"]) for r in got.collect()}

    assert n == len(vals)
    assert totals["rsum"] == sum(vals)
    run = 0
    for rank, (i, v) in enumerate(sorted(rows, key=lambda r: (r[1], r[0])), 1):
        run += v
        assert out[i] == (rank, run), f"row id={i} v={v}"


# -------------------------------------- rank statistics under ties

@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals_a=st.lists(st.integers(min_value=0, max_value=9), min_size=2, max_size=40),
    vals_b=st.lists(st.integers(min_value=0, max_value=9), min_size=2, max_size=40),
)
def test_ks_and_mann_whitney_tie_independent(spark, tmp_path_factory, vals_a, vals_b):
    """KS D and Mann-Whitney U/z must equal the sequential textbook
    computation on arbitrary multisets drawn from a 10-value support —
    i.e. under HEAVY ties, the case round-6 advice flagged as the
    nondeterminism risk of the old row-windowed CDFs.  The per-distinct-
    value aggregation + distributed prefix decomposition must make the
    result independent of within-tie row order and partitioning."""
    import pandas as pd

    from splitserve_spark.registry import REGISTRY, load_all

    load_all()
    tmp = tmp_path_factory.mktemp("ksmw")
    rows = [("view", float(v)) for v in vals_a] + [
        ("purchase", float(v)) for v in vals_b
    ]
    pd.DataFrame(
        [
            (i, pd.Timestamp("2024-01-01"), i % 7, et, v, "{}")
            for i, (et, v) in enumerate(rows)
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(tmp / "events.parquet")

    # --- sequential references -------------------------------------
    na, nb = len(vals_a), len(vals_b)
    support = sorted(set(vals_a) | set(vals_b))
    ca = cb = 0
    ks = 0.0
    for v in support:
        ca += vals_a.count(v)
        cb += vals_b.count(v)
        ks = max(ks, abs(ca / na - cb / nb))

    pooled = sorted(vals_a + vals_b)
    # average ranks per tie block (1-based)
    rank_of = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j] == pooled[i]:
            j += 1
        rank_of[pooled[i]] = (i + 1 + j) / 2
        i = j
    r_a = sum(rank_of[v] for v in vals_a)
    u_a = r_a - na * (na + 1) / 2
    n = na + nb
    ties = sum(
        c * c * c - c
        for c in (pooled.count(v) for v in set(pooled))
    )
    mu = na * nb / 2
    sigma2 = na * nb / 12 * ((n + 1) - ties / (n * (n - 1)))

    ks_out = REGISTRY["stat_ks_two_sample"].fn(spark, str(tmp)).collect()[0]
    assert (ks_out["n_a"], ks_out["n_b"]) == (na, nb)
    assert ks_out["ks_d"] == pytest.approx(round(ks, 6), abs=1e-9)

    mw_out = REGISTRY["stat_mann_whitney"].fn(spark, str(tmp)).collect()[0]
    assert (mw_out["n_a"], mw_out["n_b"]) == (na, nb)
    assert mw_out["u_a"] == pytest.approx(u_a, abs=1e-9)
    if sigma2 > 0:
        import math

        z = round((u_a - mu) / math.sqrt(sigma2), 6)
        assert mw_out["z_score"] == pytest.approx(z, abs=1e-6)


# ------------------------------------ cross-engine parity hash family

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=["Cs"], max_codepoint=0x2FFF
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_md5_hash60_and_perm_hash_cross_engine(spark, texts):
    """The parity-hash family (the determinism backbone of every
    dedup/graph fenced block) must agree with an independent Python
    md5 on ARBITRARY unicode strings, and with DuckDB's SQL spelling —
    three engines, one value.  perm_hash must stay inside [0, P) and
    match the Python congruence for every MINHASH_PERMS pair."""
    import hashlib

    import duckdb

    from splitserve_spark.functions.parity_hash import (
        HASH_P, MINHASH_PERMS, md5_hash60, md5_hash60_spark_sql,
        md5_hash60_sql, perm_hash, perm_hash_spark_sql,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in texts], ["s"])
    a0, b0 = MINHASH_PERMS[0]
    h_sql = md5_hash60_spark_sql("s")
    rows = df.select(
        "s",
        md5_hash60(F.col("s")).alias("h"),
        # The Spark-SQL string spellings are the production path for
        # MinHash signatures (operators/dedup.py builds via F.expr);
        # they must evaluate to the same values as the Column forms.
        F.expr(h_sql).alias("h_expr"),
        *[
            perm_hash(md5_hash60(F.col("s")), a, b).alias(f"p{i}")
            for i, (a, b) in enumerate(MINHASH_PERMS)
        ],
        *[
            F.expr(perm_hash_spark_sql(h_sql, a, b)).alias(f"pe{i}")
            for i, (a, b) in enumerate(MINHASH_PERMS)
        ],
    ).collect()

    con = duckdb.connect()
    for r in rows:
        py_h = int(hashlib.md5(r["s"].encode("utf-8")).hexdigest()[:15], 16)
        assert r["h"] == py_h, r["s"]
        assert r["h_expr"] == py_h, r["s"]
        duck_h = con.execute(
            f"SELECT {md5_hash60_sql('?')}", [r["s"]]
        ).fetchone()[0]
        assert duck_h == py_h, r["s"]
        for i, (a, b) in enumerate(MINHASH_PERMS):
            exp = (a * (py_h % HASH_P) + b) % HASH_P
            assert r[f"p{i}"] == exp
            assert r[f"pe{i}"] == exp, (r["s"], i)
            assert 0 <= r[f"p{i}"] < HASH_P


def test_norm_spellings_are_one_expression(spark):
    """The normalization has three hand-maintained spellings — the
    Column form (_norm), the Spark-SQL string (_NORM_SPARK_SQL, the
    F.expr production path of the LSH family) and the DuckDB oracle
    string (_NORM_SQL).  The LSH exact-collapse's losslessness argument
    requires fingerprint and shingles to share ONE normalization, so a
    drifted spelling must fail here, not in the end-to-end sweep."""
    import duckdb

    from pyspark.sql import functions as F

    from splitserve_spark.operators.dedup import (
        _NORM_SPARK_SQL, _NORM_SQL, _norm,
    )

    samples = [
        "  Mixed CASE   and   runs  ",
        "single",
        "", "   ",
        "tab\tand\nnewline  kept",
        "unicode  Ü  ß  ÅNGSTRÖM",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["text"])
    # Same analyzed (canonicalized) tree: the two Spark spellings are
    # literally one expression, not merely value-equal.
    col_plan = df.select(_norm(F.col("text")).alias("n"))._jdf.queryExecution(
    ).analyzed().canonicalized().toString()
    sql_plan = df.select(F.expr(_NORM_SPARK_SQL).alias("n"))._jdf.queryExecution(
    ).analyzed().canonicalized().toString()
    assert col_plan == sql_plan
    # And the DuckDB spelling agrees value-for-value.
    spark_vals = [r["n"] for r in
                  df.select(_norm(F.col("text")).alias("n")).collect()]
    con = duckdb.connect()
    duck_vals = [
        con.execute(
            f"SELECT {_NORM_SQL} FROM (SELECT ? AS text)", [s]
        ).fetchone()[0]
        for s in samples
    ]
    assert spark_vals == duck_vals
