from __future__ import annotations

import pytest

from splitserve_spark.registry import REGISTRY, load_all
from tests.oracle_utils import SF_DIR, check_query

load_all()

ORACLED = [
    "sim_cosine_topk", "sim_cosine_pairs", "sim_norms", "mm_binary_meta",
    "sim_label_centroid_drift", "mm_image_decode", "sim_truncation_recall",
    "sim_centroid_classifier", "mm_audio_features",
    "sim_semantic_dedup", "sim_range_search",
]


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, name):
    check_query(spark, name, SF_DIR)


def test_cosine_topk_merges_across_arrow_batches(spark):
    """7-row Arrow batches: the kernel's running top-k is merged
    across ~70 batches per partition and must stay exact."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        check_query(spark, "sim_cosine_topk", SF_DIR, strict=True)
    finally:
        spark.conf.set(key, old)


def test_label_centroid_drift_invariants(spark):
    pdf = REGISTRY["sim_label_centroid_drift"].fn(spark, SF_DIR).toPandas()
    assert pdf["centroid_cosine"].between(-1.0, 1.0).all()
    from splitserve_spark.tables import Tables

    total = Tables(spark, SF_DIR).embeddings.count()
    assert pdf["n_vecs"].sum() == total


def test_lsh_ann_recall(spark):
    """LSH ANN must recover most of the brute-force top-k."""
    exact = REGISTRY["sim_cosine_topk"].fn(spark, SF_DIR).toPandas()
    approx = REGISTRY["sim_lsh_ann"].fn(spark, SF_DIR).toPandas()
    exact_set = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_set = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_set & approx_set) / len(exact_set)
    # Random synthetic embeddings are ANN's worst case (neighbors are
    # barely closer than random); require clearly-better-than-random.
    assert recall >= 0.25, f"recall {recall:.2f}"
    # Approx cosines, where returned, must be the exact values.
    merged = exact.merge(approx, on=["query_id", "neighbor_id"], suffixes=("_e", "_a"))
    assert (abs(merged["cosine_e"] - merged["cosine_a"]) < 1e-6).all()


def test_decode_features_schema_and_determinism(spark):
    fn = REGISTRY["mm_decode_features"].fn
    a = fn(spark, SF_DIR).toPandas()
    b = fn(spark, SF_DIR).toPandas()
    assert list(a.columns) == [
        "doc_id", "channels", "sample_rate", "bits", "n_samples",
        "byte_len", "mean_amp", "peak_amp",
    ]
    assert len(a) > 0 and a["doc_id"].is_unique
    assert a.equals(b)
    assert (a["byte_len"] == 44 + 2 * a["n_samples"]).all()
    assert (a["bits"] == 16).all() and (a["channels"] == 1).all()
    assert (a["peak_amp"] <= 1024).all()


def test_decode_wav_rejects_malformed_bytes():
    """The decoder is a real parser, not a stub: malformed payloads
    raise instead of producing garbage features."""
    from splitserve_spark.operators.multimodal import _wav_bytes, decode_wav

    good = _wav_bytes(7)
    assert decode_wav(good)["n_samples"] == 50 + 7 % 32
    with pytest.raises(ValueError):
        decode_wav(b"JUNK" + good[4:])
    with pytest.raises(ValueError):
        decode_wav(good[:20])  # truncated: no data chunk


def test_frame_sample_fanout(spark):
    from splitserve_spark.operators.multimodal import FRAME_LEN, FRAME_STRIDE

    pdf = REGISTRY["mm_frame_sample"].fn(spark, SF_DIR).toPandas()
    per_doc = pdf.groupby("doc_id")["frame_idx"].agg(["count", "min", "max"])
    assert (per_doc["min"] == 0).all()
    # Sampled stride: frame indices are 0, STRIDE, 2*STRIDE, …
    assert (pdf["frame_idx"] % FRAME_STRIDE == 0).all()
    # Doc d has 50 + d % 32 samples → ceil(n/LEN) frames pre-stride.
    n = 50 + pdf["doc_id"] % 32
    expected = (-(-n // FRAME_LEN) + FRAME_STRIDE - 1) // FRAME_STRIDE
    got = pdf.groupby("doc_id").size()
    assert (got == expected.groupby(pdf["doc_id"]).first()).all()
    assert (pdf["n_in_frame"].between(1, FRAME_LEN)).all()
    assert (pdf["peak"] <= 1024).all() and (pdf["energy"] >= 0).all()


def test_decode_media_is_explicit_stub():
    from splitserve_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\x00")


def test_ivf_ann_recall(spark):
    """IVF ANN: probing 4/16 cells must beat random-subset recall and
    return exact cosines for every pair it reports."""
    exact = REGISTRY["sim_cosine_topk"].fn(spark, SF_DIR).toPandas()
    approx = REGISTRY["sim_ivf_ann"].fn(spark, SF_DIR).toPandas()
    exact_set = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_set = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.25, f"recall {recall:.2f}"
    merged = exact.merge(approx, on=["query_id", "neighbor_id"], suffixes=("_e", "_a"))
    assert (abs(merged["cosine_e"] - merged["cosine_a"]) < 1e-6).all()
    # every query answered with a full top-k
    assert (approx.groupby("query_id").size() == 5).all()


def test_dedup_embedding_lsh_recall(spark):
    """The LSH-candidate dedup must (a) find most of the exact twin's
    dropped vectors (recall; calibrated 0.88 on this seed/data — assert
    with margin), (b) never drop a vector the exact pass keeps
    (precision 1.0 by construction: every candidate is cosine-confirmed),
    and (c) report only true cosines."""
    exact = REGISTRY["dedup_embedding_cosine"].fn(spark, SF_DIR).toPandas()
    approx = REGISTRY["dedup_embedding_lsh"].fn(spark, SF_DIR).toPandas()
    exact_dups = set(exact["dup_id"])
    lsh_dups = set(approx["dup_id"])
    assert lsh_dups <= exact_dups, "LSH dropped a vector the exact pass keeps"
    recall = len(lsh_dups & exact_dups) / len(exact_dups)
    assert recall >= 0.70, f"dup recall {recall:.2f}"
    # Where both found a dup, max_cos must agree with at most the
    # missed-pair slack (LSH max over a subset ≤ exact max).
    merged = exact.merge(approx, on="dup_id", suffixes=("_e", "_a"))
    assert (merged["max_cos_a"] <= merged["max_cos_e"] + 1e-9).all()
    assert (merged["n_near_a"] <= merged["n_near_e"]).all()


def test_quantize_int8_error_bound(spark):
    """Affine 256-level quantization guarantees max reconstruction
    error <= scale/2 (half a quantization step)."""
    out = REGISTRY["sim_quantize_int8"].fn(spark, SF_DIR).toPandas()
    assert len(out) > 0
    # scale is rounded to 6dp in the output, so allow half-ULP slack
    assert (out["max_abs_err"] <= out["scale"] / 2 + 1e-6).all()
    assert (out["mse"] <= (out["scale"] / 2 + 1e-6) ** 2).all()


def test_pq_ann_recall(spark):
    """PQ ANN: ADC over 4-bit codes + top-100 rerank must recover most
    of the brute-force top-k (calibrated 0.96 on this seed/data —
    assert with margin), and returned cosines must be exact."""
    exact = REGISTRY["sim_cosine_topk"].fn(spark, SF_DIR).toPandas()
    approx = REGISTRY["sim_pq_ann"].fn(spark, SF_DIR).toPandas()
    exact_set = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_set = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"recall {recall:.2f}"
    merged = exact.merge(approx, on=["query_id", "neighbor_id"], suffixes=("_e", "_a"))
    assert (abs(merged["cosine_e"] - merged["cosine_a"]) < 1e-6).all()


def test_ppm_parser_rejects_malformed_and_honors_comments(spark):
    """The PPM decoder is a real parser: it must accept a commented
    header and reject non-P6 payloads."""
    import numpy as np
    import pytest as _pytest

    from splitserve_spark.operators.multimodal import _parse_ppm, _ppm_bytes

    w, h, px = _parse_ppm(b"P6\n# a comment\n2 3\n255\n" + bytes(range(18)))
    assert (w, h) == (2, 3) and px.shape == (3, 2, 3)
    with _pytest.raises(ValueError):
        _parse_ppm(b"P5\n2 3\n255\n" + bytes(18))
    # Round-trip: generator bytes parse back to the formula's values.
    w, h, px = _parse_ppm(_ppm_bytes(7))
    assert px[0, 0, 0] == (7 * 7) % 256
    assert px[1, 2, 1] == (7 * 7 + 1 * 13 + 2 * 5 + 11) % 256


def test_ppm_parser_raises_on_truncation(spark):
    """Truncated header or pixel data must raise, never loop."""
    import pytest as _pytest

    from splitserve_spark.operators.multimodal import _parse_ppm

    for bad in (b"P6\n2 3", b"P6\n", b"P6\n2 3\n255\n" + bytes(5)):
        with _pytest.raises(ValueError):
            _parse_ppm(bad)


def test_sig_kernel_bit_exact_vs_jvm_fold(spark):
    """The Arrow signature kernel (_sig_kernel, np.cumsum sequential
    fold) must reproduce the JVM higher-order-function fold it replaced
    BIT-exactly — every bucket id, for both LSH plane families.  A
    future edit swapping cumsum for matmul/einsum (pairwise summation)
    would flip sign bits on near-orthogonal vectors and silently break
    the DuckDB oracle parity; this pins the contract on real corpus
    vectors."""
    from pyspark.sql import functions as F

    from splitserve_spark.operators.similarity import (
        _as_double, _dedup_hyperplanes, _dot, _hyperplanes, _sig_kernel,
        DEDUP_LSH_BITS, EMB_DIM, N_BITS,
    )
    from splitserve_spark.tables import Tables

    base = (
        Tables(spark, SF_DIR).embeddings.filter(F.col("vec_id") < 40)
        .select("vec_id", _as_double("embedding").alias("v"))
    )
    for planes, n_bits in (
        (_hyperplanes(EMB_DIM), N_BITS),
        (_dedup_hyperplanes(EMB_DIM), DEDUP_LSH_BITS),
    ):
        def table_sig(v, table):
            sig = F.lit(0)
            for plane in planes[table]:
                pl = F.array(*[F.lit(float(x)) for x in plane])
                sig = sig * 2 + F.when(_dot(pl, v) >= 0, 1).otherwise(0)
            return sig

        n_tables = min(len(planes), 3)  # JVM fold is slow; sample tables
        jvm = base.select(
            "vec_id", *[table_sig(F.col("v"), t).alias(f"t{t}")
                        for t in range(n_tables)]
        ).toPandas().set_index("vec_id").sort_index()
        arrow = (
            base.select("vec_id", _sig_kernel(planes, n_bits)("v").alias("b"))
            .toPandas().set_index("vec_id").sort_index()
        )
        for t in range(n_tables):
            assert (
                [int(b[t]) for b in arrow["b"]] == jvm[f"t{t}"].tolist()
            ), f"bucket mismatch in table {t}"


def test_pair_kernels_bit_exact_vs_jvm_folds(spark):
    """_arrow_l2sq and _arrow_cosine (the IVF/PQ assignment and rerank
    hot-path kernels) must reproduce the JVM zip_with+aggregate folds
    BIT-exactly on real corpus vectors — zero ULP of drift, because
    downstream argmin tie-breaks and the strict DuckDB parity both
    ride on the exact double.  Pins the cumsum⇔fold identity the same
    way test_sig_kernel_bit_exact_vs_jvm_fold does for signatures."""
    from pyspark.sql import functions as F

    from splitserve_spark.operators.similarity import (
        _arrow_cosine, _arrow_l2sq, _as_double, _cosine,
    )
    from splitserve_spark.tables import Tables

    def _jvm_l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    e = (
        Tables(spark, SF_DIR).embeddings.filter(F.col("vec_id") < 60)
        .select("vec_id", _as_double("embedding").alias("v"))
    )
    a = e.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    got = pairs.select(
        "ia", "ib",
        _jvm_l2sq(F.col("va"), F.col("vb")).alias("jvm_d"),
        _arrow_l2sq(F.col("va"), F.col("vb")).alias("arrow_d"),
        _cosine(F.col("va"), F.col("vb")).alias("jvm_c"),
        _arrow_cosine(F.col("va"), F.col("vb")).alias("arrow_c"),
    ).toPandas()
    assert len(got) == 60 * 59 // 2
    # Bit-exact: plain == on doubles, no tolerance.
    assert (got["jvm_d"] == got["arrow_d"]).all()
    assert (got["jvm_c"] == got["arrow_c"]).all()


def test_semantic_dedup_subset_of_allpairs_truth(spark):
    """Cluster-scoped SemDeDup can only ever mark a SUBSET of the
    all-pairs near-duplicates (it sees pairs within one cluster): on
    the overlapping fence (vec_id < 300, same tau) every semantic dup
    must appear in dedup_embedding_cosine's ground truth, with
    no-larger n_near and max_cos — the mine-then-confirm containment
    that proves the cluster stage drops candidates, never invents
    them."""
    sem = (
        REGISTRY["sim_semantic_dedup"].fn(spark, SF_DIR).toPandas()
    )
    truth = (
        REGISTRY["dedup_embedding_cosine"].fn(spark, SF_DIR).toPandas()
    ).set_index("dup_id")
    overlap = sem[sem["dup_id"] < 300]
    assert len(overlap) > 0, "fixture degenerate: no dups under vec_id 300"
    for _, row in overlap.iterrows():
        assert row["dup_id"] in truth.index
        assert row["n_near"] <= truth.loc[row["dup_id"], "n_near"]
        assert row["max_cos"] <= truth.loc[row["dup_id"], "max_cos"] + 1e-9
