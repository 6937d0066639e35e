"""Known-answer unit tests for the LLM-pipeline query building blocks
(tiny inputs, hand-computed expectations) — the oracle checks prove
Spark==DuckDB; these prove both match the SPEC."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_text_stats_known_answer(spark):
    from kcbdml9_big_data_processing_spark.queries.text import text_stats

    import tempfile, os

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(1, "the cat sat", "en", "s", 11), (2, "a a a", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = {r["doc_id"]: r for r in text_stats(spark, d).collect()}
    assert rows[1]["n_words"] == 3
    assert rows[1]["n_unique_words"] == 3
    assert rows[1]["avg_word_len"] == 9 / 3  # the(3)+cat(3)+sat(3)
    assert rows[2]["n_words"] == 3
    assert rows[2]["n_unique_words"] == 1


def test_jaccard_pair_known_answer(spark):
    """Two docs sharing their first 5 of 6 tokens: shingle sets overlap
    3-of-4+3-of-4 -> jaccard = |inter|/|union| computed by hand."""
    a = ["w1", "w2", "w3", "w4", "w5", "x"]
    b = ["w1", "w2", "w3", "w4", "w5", "y"]
    # word-3-gram shingles: a has 4, b has 4, 3 shared -> 3/5
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, toks array<string>")
    sh = F.expr(
        "array_distinct(transform(sequence(1, greatest(size(toks) - 2, 1)),"
        " i -> concat_ws(' ', slice(toks, i, 3))))"
    )
    p = df.select("doc_id", sh.alias("sh"))
    x = p.alias("x")
    y = p.alias("y")
    inter = F.size(F.array_intersect("x.sh", "y.sh"))
    uni = F.size(F.col("x.sh")) + F.size(F.col("y.sh")) - inter
    r = (
        x.join(y, F.col("x.doc_id") < F.col("y.doc_id"))
        .select((inter.cast("double") / uni.cast("double")).alias("j"))
        .first()
    )
    assert r["j"] == 3 / 5


def test_ngram_df_cap_guard(spark, monkeypatch):
    """The stop-shingle df cap is live in the postings join: with the
    default cap (far above this corpus's max df) the near-dup pair is
    found; with the cap forced to 0 every posting is a stop-shingle
    and the pair set is empty — proving the guard executes and that at
    default settings it is recall-neutral (the driver's all-pairs
    oracle equality proves the same at sf0.01)."""
    import os
    import tempfile

    from kcbdml9_big_data_processing_spark.queries import dedup

    d = tempfile.mkdtemp()
    text = " ".join(f"tok{i}" for i in range(12))
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    rows = dedup.dedup_ngram_jaccard(spark, d).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 10_000_001)]

    monkeypatch.setattr(dedup, "_DF_CAP", 0)
    assert dedup.dedup_ngram_jaccard(spark, d).count() == 0


def test_simhash_identical_docs_zero_hamming(spark):
    from kcbdml9_big_data_processing_spark.queries.dedup import dedup_simhash

    import tempfile, os

    d = tempfile.mkdtemp()
    # 20 tokens: the perturbed copy (last 2 dropped) keeps 90% of the
    # token multiset, so signatures stay within the Hamming budget
    text = " ".join(f"tok{i}" for i in range(18)) + " omega zeta"
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = dedup_simhash(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["doc_a"] == 1 and rows[0]["doc_b"] == 10_000_001
    assert 0 <= rows[0]["hamming"] <= 6


def test_cosine_fixed_point_known_answer(spark):
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _cos_expr,
        _dot_fixed_expr,
    )

    df = spark.createDataFrame(
        [([1.0, 0.0, 0.0], [0.6, 0.8, 0.0])], "a array<float>, b array<float>"
    )
    r = df.select(
        F.expr(
            _cos_expr(
                _dot_fixed_expr("a", "b"),
                _dot_fixed_expr("a", "a"),
                _dot_fixed_expr("b", "b"),
            )
        ).alias("cos")
    ).first()
    # unit vectors at cos=0.6 (0.6/1*1); fixed-point floor introduces
    # <=1e-9 per-term error
    assert math.isclose(r["cos"], 0.6, abs_tol=1e-8)


def test_multimodal_features_digest_matches_hashlib(spark):
    import hashlib

    from kcbdml9_big_data_processing_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )

    df = spark.createDataFrame(
        [(7, "hello world", "src")], "doc_id long, text string, source string"
    )
    out = extract_features(
        attach_binary_payload(df, "doc_id", "text", "source")
    ).first()
    assert out["asset_id"] == 7
    assert out["n_bytes"] == 11
    assert out["digest"] == hashlib.sha256(b"hello world").hexdigest()
    assert out["width"] == 12 and out["height"] == 12


def test_decode_image_is_gated():
    import pytest as _pytest

    from kcbdml9_big_data_processing_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError):
            decode_image(None)
    else:
        _pytest.skip("pillow present: real path covered by the test below")


def test_decode_image_real_path_when_pillow_available(spark):
    """Executes the REAL decode path on a generated PNG wherever
    pillow exists (skipped in the pillow-less driver container): a
    3x2 red RGB image decodes to its intrinsic properties, the pixel
    digest matches the raw buffer, and a null payload degrades to a
    null row instead of crashing the Arrow worker."""
    import pytest as _pytest

    PIL_Image = _pytest.importorskip("PIL.Image")
    import hashlib as _hl
    import io

    from kcbdml9_big_data_processing_spark.operators.multimodal import (
        decode_image,
    )

    img = PIL_Image.new("RGB", (3, 2), (255, 0, 0))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    rows = [(1, bytearray(buf.getvalue())), (2, None)]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {r["asset_id"]: r for r in decode_image(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["mode"]) == (3, 2, "RGB")
    assert got[1]["pixel_digest"] == _hl.sha256(img.tobytes()).hexdigest()
    assert got[2]["width"] is None and got[2]["pixel_digest"] is None


def test_dedup_clusters_converges_on_either_checkpoint_backend(spark, tmp_path):
    """The connected-components loop truncates lineage each round;
    locally that's localCheckpoint (executor-local blocks), on a real
    cluster it must be reliable checkpoint() (survives executor loss —
    localCheckpoint'd blocks die with their executor and kill the job).
    Both backends must converge to the identical labeling; the reliable
    one must actually write checkpoint files under the configured dir."""
    import os

    from kcbdml9_big_data_processing_spark.queries.dedup import dedup_clusters

    sf = "/root/testdata/sf0.001"
    local = {
        (r["doc_id"], r["canonical_id"])
        for r in dedup_clusters(spark, sf, reliable_checkpoint=False).collect()
    }
    ckpt_dir = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    reliable = {
        (r["doc_id"], r["canonical_id"])
        for r in dedup_clusters(spark, sf, reliable_checkpoint=True).collect()
    }
    assert reliable == local and len(local) > 0
    # the reliable backend really persisted state to the reliable dir
    wrote = any(files for _, _, files in os.walk(ckpt_dir))
    assert wrote, "reliable checkpoint wrote no files"


def _mean_recall(spark, sf: str, approx_fn) -> float:
    """recall@10 of ``approx_fn`` against the exact brute-force
    baseline on the same probe set."""
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        knn_topk_cosine,
    )

    exact = {}
    for r in knn_topk_cosine(spark, sf).collect():
        exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
    approx = {}
    for r in approx_fn(spark, sf).collect():
        approx.setdefault(r["probe_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact[p] & approx.get(p, set())) / len(exact[p]) for p in exact
    ]
    return sum(recalls) / len(recalls)


@pytest.mark.parametrize(
    "sf,floor",
    [("/root/testdata/sf0.001", 0.3), ("/root/testdata/sf0.1", 0.3)],
    ids=["sf0.001", "sf0.1"],
)
def test_ann_recall_vs_brute_force(spark, sf, floor):
    """ANN quality, quantified: recall@10 of the LSH-bucketed search
    against the exact brute-force baseline on the same probes. Random
    unit vectors are the worst case for hyperplane LSH (no cluster
    structure to exploit), so the bound here is a floor, not a
    showcase; what matters is that the measurement is pinned — and
    pinned at sf0.1 as well as the smoke SF, because banded-LSH recall
    DEGRADES as the corpus densifies (more near-ties around the top-10
    boundary): a small-SF-only pin would silently rot as data grows.
    Measured: 0.44 at sf0.001, 0.46 at sf0.1."""
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        ann_lsh_cosine,
    )

    mean_recall = _mean_recall(spark, sf, ann_lsh_cosine)
    assert mean_recall >= floor, f"mean recall@10 {mean_recall:.2f} at {sf}"


@pytest.mark.parametrize(
    "sf,floor",
    [("/root/testdata/sf0.001", 0.4), ("/root/testdata/sf0.1", 0.4)],
    ids=["sf0.001", "sf0.1"],
)
def test_ivf_recall_vs_brute_force(spark, sf, floor):
    """IVF quality, quantified the same way: searching nprobe/K = 4/16
    of the corpus. Same worst-case caveat as the LSH test — random
    unit vectors have no cluster structure for the coarse quantizer to
    exploit, so the pinned floors (measured 0.56 at sf0.001, 0.52 at
    sf0.1) are conservative; the sf0.1 pin keeps the path honest at
    density."""
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        ivf_ann_cosine,
    )

    mean_recall = _mean_recall(spark, sf, ivf_ann_cosine)
    assert mean_recall >= floor, f"mean recall@10 {mean_recall:.2f} at {sf}"


def test_sample_frames_shape_and_digests(spark):
    """The frame sampler's fan-out, indices, and digests against a
    hand-computed reference: 150 chars -> 3 frames of 64 -> keep
    frames 0 and 2 (stride 2)."""
    import hashlib

    from kcbdml9_big_data_processing_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    text = "x" * 130 + "TAIL" + "y" * 16  # 150 chars
    df = spark.createDataFrame([(1, text, "src")], "doc_id long, text string, source string")
    rows = {
        r["frame_idx"]: r
        for r in sample_frames(
            attach_binary_payload(df, "doc_id", "text", "source")
        ).collect()
    }
    assert set(rows) == {0, 2}
    assert rows[0]["frame_chars"] == 64
    assert rows[2]["frame_chars"] == 150 - 128
    expect0 = hashlib.sha256(text[:64].encode()).hexdigest()
    expect2 = hashlib.sha256(text[128:].encode()).hexdigest()
    assert rows[0]["frame_digest"] == expect0
    assert rows[2]["frame_digest"] == expect2


def test_resize_payload_matches_python_reference(spark):
    """Binary->binary mapInPandas resize: every 3rd byte, verified
    against pure-Python slicing."""
    from kcbdml9_big_data_processing_spark.operators.multimodal import (
        attach_binary_payload,
        resize_payload,
    )

    df = spark.createDataFrame(
        [(1, "abcdefghij", "s"), (2, "xy", "s")],
        "doc_id long, text string, source string",
    )
    out = {
        r["asset_id"]: r
        for r in resize_payload(
            attach_binary_payload(df, "doc_id", "text", "source"), 3
        ).collect()
    }
    assert bytes(out[1]["payload"]) == b"abcdefghij"[::3]
    assert out[1]["n_bytes"] == len(b"abcdefghij"[::3])
    assert bytes(out[2]["payload"]) == b"xy"[::3]


@pytest.mark.parametrize(
    "sf,floor",
    [("/root/testdata/sf0.001", 0.5), ("/root/testdata/sf0.1", 0.5)],
    ids=["sf0.001", "sf0.1"],
)
def test_pq_recall_vs_brute_force(spark, sf, floor):
    """PQ quality, quantified the same way: 16-codebook product
    quantization + ADC shortlist + exact re-rank. Raw ADC order on
    random unit vectors (the PQ worst case — no cluster structure, and
    quantization error dominates distances near the top-10 boundary)
    measures only ~0.17-0.28 recall@10; the L*K exact re-rank recovers
    it (measured 0.80 at sf0.001, 0.605 at sf0.1), which is the
    standard PQ deployment shape. Pinned at sf0.1 as well so density
    degradation can't rot silently."""
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        pq_ann_cosine,
    )

    mean_recall = _mean_recall(spark, sf, pq_ann_cosine)
    assert mean_recall >= floor, f"mean recall@10 {mean_recall:.2f} at {sf}"


def test_pq_persisted_index_matches_inline_query(spark, tmp_path):
    """The amortized path: build_pq_index writes the codebooks + code
    table to parquet, search_pq_index answers probes from them — and
    must produce EXACTLY the from-scratch pq_ann_cosine_inline result
    for the same probe set (same fixed-point arithmetic, same
    tie-breaks), proving the persisted index is the same index, not a
    lookalike. (r7: the registered query routes through the persisted
    index, so this pin is what keeps its oracle equality meaningful —
    it certifies index == inline, and the oracle certifies inline
    semantics.)"""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _PROBE_MOD,
        build_pq_index,
        pq_ann_cosine_inline,
        search_pq_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "pq_index")
    build_pq_index(emb, path)
    probes = emb.where(F.col("vec_id") % _PROBE_MOD == 0)
    from_index = {
        (r.probe_id, r.vec_id, r.rank, round(r.cosine, 12))
        for r in search_pq_index(spark, path, probes, emb).collect()
    }
    inline = {
        (r.probe_id, r.vec_id, r.rank, round(r.cosine, 12))
        for r in pq_ann_cosine_inline(spark, sf).collect()
    }
    assert from_index == inline and len(inline) > 0


def test_ivf_persisted_index_matches_inline_query(spark, tmp_path):
    """The amortized IVF path: build_ivf_index writes centroids + cell
    assignments to parquet, search_ivf_index answers probes from them
    — and must produce EXACTLY the from-scratch ivf_ann_cosine_inline
    result for the same probe set (same fixed-point arithmetic, same
    tie-breaks), proving the persisted index is the same index, not a
    lookalike. (r7: the registered query routes through the persisted
    index; see the PQ twin's note.)"""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _PROBE_MOD,
        build_ivf_index,
        ivf_ann_cosine_inline,
        search_ivf_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path)
    probes = emb.where(F.col("vec_id") % _PROBE_MOD == 0)
    from_index = {
        (r.probe_id, r.vec_id, r.rank, round(r.cosine, 12))
        for r in search_ivf_index(spark, path, probes, emb).collect()
    }
    inline = {
        (r.probe_id, r.vec_id, r.rank, round(r.cosine, 12))
        for r in ivf_ann_cosine_inline(spark, sf).collect()
    }
    assert from_index == inline and len(inline) > 0


def test_ivf_index_incremental_extend(spark, tmp_path):
    """extend_ivf_index properties: (1) batch-split invariance —
    extending with B in one shot vs two sub-batches yields identical
    search answers (training is deterministic, so two build(A) runs
    store identical centroids; extension order must not matter);
    (2) the appended assignments are exactly argmin over the STORED
    centroids; (3) every vector is in the cell table exactly once."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _PROBE_MOD,
        _argmin_cell,
        _ivf_explode,
        build_ivf_index,
        extend_ivf_index,
        search_ivf_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings").select("vec_id", "embedding")
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    cut1, cut2 = ids[int(len(ids) * 0.8)], ids[int(len(ids) * 0.9)]
    a = emb.where(F.col("vec_id") <= cut1)
    b = emb.where(F.col("vec_id") > cut1)
    b1 = b.where(F.col("vec_id") <= cut2)
    b2 = b.where(F.col("vec_id") > cut2)

    one, two = str(tmp_path / "one"), str(tmp_path / "two")
    build_ivf_index(a, one)
    extend_ivf_index(b, one)
    build_ivf_index(a, two)
    extend_ivf_index(b1, two)
    extend_ivf_index(b2, two)

    probes = emb.where(F.col("vec_id") % _PROBE_MOD == 0)
    got_one = {
        (r.probe_id, r.vec_id, r.rank, round(r.cosine, 12))
        for r in search_ivf_index(spark, one, probes, emb).collect()
    }
    got_two = {
        (r.probe_id, r.vec_id, r.rank, round(r.cosine, 12))
        for r in search_ivf_index(spark, two, probes, emb).collect()
    }
    assert got_one == got_two and len(got_one) > 0

    from kcbdml9_big_data_processing_spark.queries.similarity import _gen_current

    cells = spark.read.parquet(f"{_gen_current(spark, one)}/cells")
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()
    stored = spark.read.parquet(f"{_gen_current(spark, one)}/centroids")
    want_b = {
        (r["vec_id"], r["cell"])
        for r in _argmin_cell(_ivf_explode(b), stored)
        .select("vec_id", "cell")
        .collect()
    }
    got_b = {
        (r["vec_id"], r["cell"])
        for r in cells.join(b.select("vec_id"), "vec_id", "left_semi").collect()
    }
    assert got_b == want_b


def test_dedup_index_incremental_extend(spark, tmp_path):
    """Persisted near-dup index properties (the sibling of the IVF
    extension pins): (1) search equivalence — deduping a batch against
    build(archive) answers exactly the full-corpus pair join over
    archive∪batch restricted to batch-touching pairs; (2) extension —
    after extend_dedup_index(batch1), a later batch2 search surfaces
    its matches against batch1 docs, and build(A)+extend(B) equals
    build(A∪B) for the same searches (the corpus's df cap never binds
    here, so the frozen stop set is identical either way)."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.dedup import (
        _exact_jaccard_pairs,
        build_dedup_index,
        dedup_against_index,
        extend_dedup_index,
        shingle_docs,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    archive = docs.where(F.col("doc_id") % 2 == 0)
    batch1 = docs.where(F.col("doc_id") % 4 == 1)
    # batch2 includes a near-dup of an ARCHIVE doc and of a BATCH1 doc
    near = lambda src, off: src.select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " "
        ).alias("text"),
    )
    batch2 = (
        docs.where(F.col("doc_id") % 4 == 3)
        .unionAll(near(archive.where(F.col("doc_id") % 8 == 0), 40_000_000))
        .unionAll(near(batch1.where(F.col("doc_id") % 8 == 1), 50_000_000))
    )

    # (1) search == full dedup restricted to batch-touching pairs
    one = str(tmp_path / "one")
    build_dedup_index(archive, one)
    got = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in dedup_against_index(spark, one, batch1).collect()
    }
    prepped = shingle_docs(archive.unionAll(batch1)).persist()
    prepped.count()
    batch_ids = {r.doc_id for r in batch1.select("doc_id").collect()}
    want = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in _exact_jaccard_pairs(prepped).collect()
        if r.doc_a in batch_ids or r.doc_b in batch_ids
    }
    prepped.unpersist()
    assert got == want

    # (2) extend == rebuild, and batch2 sees batch1 through the index
    extend_dedup_index(batch1, one)
    two = str(tmp_path / "two")
    build_dedup_index(archive.unionAll(batch1), two)
    got_ext = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in dedup_against_index(spark, one, batch2).collect()
    }
    got_rebuilt = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in dedup_against_index(spark, two, batch2).collect()
    }
    assert got_ext == got_rebuilt and len(got_ext) > 0
    b1_ids = {r.doc_id for r in batch1.select("doc_id").collect()}
    assert any(a in b1_ids or b in b1_ids for a, b, _ in got_ext), (
        "extension must make batch1 docs visible to later searches"
    )


def test_ivfpq_composed_search(spark, tmp_path):
    """IVF-PQ composed search over the two persisted indexes: (1)
    every returned candidate shares a probed IVF cell with its probe
    (the cell restriction is real — checked against the stored cell
    table); (2) within the probed cells, results match the IVF
    search's exact re-rank wherever the ADC shortlist kept the
    vector (the PQ stage only prunes, never re-orders the exact
    re-rank); (3) recall@10 vs brute force clears the floor of the
    looser of its two parents."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _IVF_NPROBE,
        _PROBE_MOD,
        build_ivf_index,
        build_pq_index,
        knn_topk_cosine,
        search_ivf_index,
        search_ivfpq_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings").select("vec_id", "embedding")
    ivf_path, pq_path = str(tmp_path / "ivf"), str(tmp_path / "pq")
    build_ivf_index(emb, ivf_path)
    build_pq_index(emb, pq_path)
    probes = emb.where(F.col("vec_id") % _PROBE_MOD == 0)

    got = search_ivfpq_index(spark, ivf_path, pq_path, probes, emb).collect()
    assert len(got) > 0

    # (1) cell restriction holds against the stored cell table
    from kcbdml9_big_data_processing_spark.queries.similarity import _gen_current

    cells = {
        r.vec_id: r.cell
        for r in spark.read.parquet(
            f"{_gen_current(spark, ivf_path)}/cells"
        ).collect()
    }
    from collections import defaultdict

    probe_cells = defaultdict(set)
    for r in got:
        probe_cells[r.probe_id].add(cells[r.vec_id])
    for p, cs in probe_cells.items():
        assert len(cs) <= _IVF_NPROBE, f"probe {p} drew from {len(cs)} cells"

    # (2) agreement with the IVF exact re-rank on the shared corpus:
    # IVF-PQ's top-k is the IVF top-k minus vectors the ADC shortlist
    # pruned — so every IVF-PQ hit must appear in the IVF result's
    # candidate ORDER consistently (same cosine, never a better rank)
    ivf = {
        (r.probe_id, r.vec_id): (r.rank, round(r.cosine, 12))
        for r in search_ivf_index(spark, ivf_path, probes, emb).collect()
    }
    agree = 0
    for r in got:
        key = (r.probe_id, r.vec_id)
        if key in ivf:
            assert round(r.cosine, 12) == ivf[key][1]
            agree += 1
    assert agree / len(got) >= 0.5, "IVF-PQ diverges wildly from IVF re-rank"

    # (3) recall floor vs brute force
    exact = {}
    for r in knn_topk_cosine(spark, sf).collect():
        exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
    approx = {}
    for r in got:
        approx.setdefault(r.probe_id, set()).add(r.vec_id)
    recalls = [
        len(exact[p] & approx.get(p, set())) / len(exact[p]) for p in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.3


def test_ngram_stop_cap_binding_and_fallback_equivalence(spark, monkeypatch):
    """When the stop-shingle df cap BINDS (a boilerplate disclaimer
    shared corpus-wide), both pair-join formulations — the default
    broadcast-stop-array shape and the driver-safe anti-join fallback
    (broadcast_stop=False) — must produce the identical pair set, and
    that set must reflect capped-vocabulary Jaccard: two docs sharing
    ONLY boilerplate are not near-dups; docs near-identical in their
    discriminative text still are. (The registry row only exercises
    the non-binding regime, where the oracle proves equality with the
    uncapped answer; this pins the binding regime.)"""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries import dedup

    boiler = "all rights reserved contact legal department for terms"
    rows = []
    # 12 docs sharing ONLY the boilerplate + distinct bodies
    for i in range(12):
        body = " ".join(f"body{i}w{j}" for j in range(10))
        rows.append((i, f"{body} {boiler}"))
    # a true near-dup pair: same body, one word changed, + boilerplate
    base_body = " ".join(f"dup{j}" for j in range(12))
    rows.append((100, f"{base_body} {boiler}"))
    rows.append((101, f"{base_body} tail {boiler}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prepped = dedup.shingle_docs(docs).persist()
    prepped.count()

    # cap = 8: the boilerplate shingles (df = 14) are stopped, the
    # body shingles (df <= 2) survive
    monkeypatch.setattr(dedup, "_DF_CAP", 8)
    got_bcast = {
        (r.doc_a, r.doc_b)
        for r in dedup._exact_jaccard_pairs(prepped).collect()
    }
    got_anti = {
        (r.doc_a, r.doc_b)
        for r in dedup._exact_jaccard_pairs(
            prepped, broadcast_stop=False
        ).collect()
    }
    prepped.unpersist()
    assert got_bcast == got_anti
    assert (100, 101) in got_bcast, "discriminative near-dup must survive"
    assert not any(
        a < 100 and b < 100 for a, b in got_bcast
    ), "boilerplate-only overlap must not create pairs once capped"


def test_semantic_index_incremental_dedup(spark, tmp_path):
    """Persisted semantic-dedup index (the embedding sibling of the
    postings index pins): (1) search equivalence — deduping a batch
    against build(archive) equals embedding_near_dup_pairs over
    archive∪batch restricted to batch-touching pairs (identical
    deterministic planes and fixed-point arithmetic); (2) extension —
    build(A)+extend(B) answers a later batch identically to
    build(A∪B), and batch1 vectors are visible to batch2 searches."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        build_semantic_index,
        embedding_near_dup_pairs,
        extend_semantic_index,
        semantic_dedup_against_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings").select(
        "vec_id",
        F.lit("corpus").alias("label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    archive = emb.where(F.col("vec_id") % 2 == 0)
    # batch1: odd vectors + a perturbed copy of every 8th archive
    # vector (guaranteed batch-vs-corpus near-dups, same construction
    # as the registry's embedding_near_dup scenario)
    perturb = F.transform(
        "emb", lambda x, i: x + ((i % 3).cast("double") - 1.0) * 0.02
    )
    copies1 = archive.where(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        "label",
        perturb.alias("emb"),
    )
    batch1 = emb.where(F.col("vec_id") % 4 == 1).unionAll(copies1)

    one = str(tmp_path / "one")
    # explicit "label" blocking (no longer the default as of r10):
    # this test's equality target is the UNBLOCKED full dedup, which
    # only the pure-label policy guarantees on a single-label corpus
    build_semantic_index(archive, one, blocking="label")
    got = {
        (r.vec_a, r.vec_b, round(r.cosine, 12))
        for r in semantic_dedup_against_index(spark, one, batch1).collect()
    }
    batch_ids = {r.vec_id for r in batch1.select("vec_id").collect()}
    want = {
        (r.vec_a, r.vec_b, round(r.cosine, 12))
        for r in embedding_near_dup_pairs(archive.unionAll(batch1)).collect()
        if r.vec_a in batch_ids or r.vec_b in batch_ids
    }
    assert got == want and len(got) > 0

    # (2) extend == rebuild; batch2 sees batch1 through the index
    copies2 = batch1.where(F.col("vec_id") % 4 == 1).limit(5).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"), "label", perturb.alias("emb")
    )
    batch2 = emb.where(F.col("vec_id") % 4 == 3).unionAll(copies2)
    extend_semantic_index(batch1, one)
    two = str(tmp_path / "two")
    build_semantic_index(archive.unionAll(batch1), two, blocking="label")
    got_ext = {
        (r.vec_a, r.vec_b, round(r.cosine, 12))
        for r in semantic_dedup_against_index(spark, one, batch2).collect()
    }
    got_rebuilt = {
        (r.vec_a, r.vec_b, round(r.cosine, 12))
        for r in semantic_dedup_against_index(spark, two, batch2).collect()
    }
    assert got_ext == got_rebuilt and len(got_ext) > 0
    b1_ids = {r.vec_id for r in batch1.select("vec_id").collect()}
    assert any(a in b1_ids or b in b1_ids for a, b, _ in got_ext), (
        "extension must make batch1 vectors visible to later searches"
    )


def test_dedup_index_compaction_bucketed_base(spark, tmp_path):
    """compact_dedup_index properties: (1) search results are
    identical before compaction, after compaction, and after a
    post-compaction extend (base + tail) and re-compaction; (2) the
    compacted base actually plans as a BUCKETED scan with NO Exchange
    on the stored side of the batch-vs-base join — the batch side is
    the only thing that shuffles, which is the whole point of the
    layout at 100 TB."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.plans.inspect import physical_plan
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        _bucketed_postings,
        _copair_rows_vs,
        build_dedup_index,
        compact_dedup_index,
        dedup_against_index,
        extend_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    near = lambda src, off: src.select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " "
        ).alias("text"),
    )
    archive = docs.where(F.col("doc_id") % 2 == 0)
    batch1 = docs.where(F.col("doc_id") % 4 == 1)
    batch2 = docs.where(F.col("doc_id") % 4 == 3).unionAll(
        near(archive.where(F.col("doc_id") % 8 == 0), 40_000_000)
    ).unionAll(near(batch1.where(F.col("doc_id") % 8 == 1), 50_000_000))

    path = str(tmp_path / "idx")
    build_dedup_index(archive, path)
    # white-box internals below read fixed paths — resolve the build's
    # committed generation dir once (r11 generational builds)
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _gen_current,
    )

    path = _gen_current(spark, path)

    def results(batch):
        return {
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in dedup_against_index(spark, path, batch).collect()
        }

    plain = results(batch1)
    compact_dedup_index(spark, path, n_buckets=4)
    try:
        assert results(batch1) == plain and len(plain) > 0

        # (2) the stored side of the batch-vs-base join never shuffles
        base = _bucketed_postings(spark, path)
        assert base is not None
        from kcbdml9_big_data_processing_spark.queries.dedup import (
            _STOP_SCHEMA,
            shingle_docs,
        )

        stop_arr = (
            spark.read.schema(_STOP_SCHEMA)
            .parquet(f"{path}/stop")
            .agg(F.collect_list("k").alias("stop"))
        )
        batch_post = (
            shingle_docs(batch1)
            .crossJoin(F.broadcast(stop_arr))
            .select("doc_id", F.array_except("sh", "stop").alias("sh"))
            .select(
                "doc_id", F.size("sh").cast("int").alias("n"),
                F.explode("sh").alias("k"),
            )
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            frag = _copair_rows_vs(
                batch_post,
                base.join(batch_post.select("k").distinct(), "k", "left_semi"),
                0.5,
            )
            plan = physical_plan(frag, "simple")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SelectedBucketsCount" in plan, plan
        assert "SortMergeJoin" in plan
        # every Exchange in the fragment partitions the BATCH lineage
        # (documents scan -> shingles); none sits above the bucketed
        # base scan. The base subtree is the segment between its scan
        # and the join — assert no Exchange appears there by checking
        # each Exchange line's subtree does not contain the bucketed
        # location marker below it.
        lines = plan.splitlines()
        bucketed_scan_lines = [
            i for i, ln in enumerate(lines) if "SelectedBucketsCount" in ln
        ]
        assert bucketed_scan_lines, plan
        for i, ln in enumerate(lines):
            if "Exchange" in ln:
                # an Exchange directly over the bucketed scan would sit
                # within 3 plan lines above it (Sort+Exchange+Scan)
                assert not any(
                    0 < j - i <= 3 for j in bucketed_scan_lines
                ), f"Exchange above bucketed base scan:\n{plan}"

        # (1a) fresh-session simulation: drop the catalog entry (a new
        # session has never seen it) — the search must re-register the
        # bucketed table from the bucket_meta sidecar and still match
        from kcbdml9_big_data_processing_spark.queries.dedup import (
            _bucketed_table_name as _tbl_name,
        )

        spark.sql(f"DROP TABLE IF EXISTS {_tbl_name(path)}")
        assert results(batch1) == plain

        # (1b) extend after compaction -> tail branch; re-compaction
        # folds it; results identical throughout
        extend_dedup_index(batch1, path)
        after_extend = results(batch2)
        assert len(after_extend) > 0
        compact_dedup_index(spark, path, n_buckets=4)
        assert results(batch2) == after_extend
    finally:
        from kcbdml9_big_data_processing_spark.queries.dedup import (
            _bucketed_table_name,
        )

        spark.sql(f"DROP TABLE IF EXISTS {_bucketed_table_name(path)}")


def test_dedup_index_crash_recovery_and_vacuum(spark, tmp_path):
    """The r7 ADVICE crash-ordering fix + retention GC, end to end:

    (a) the compaction COMMIT is the single bucket_meta record —
        deleting the newest record's file (simulating a crash after the
        new base/tail were written but before the meta record landed)
        rolls readers back to the previous generation with NOTHING
        lost, including postings appended via extend_dedup_index after
        the previous compaction (the r6 shape truncated the shared
        tail pre-commit and lost exactly those);
    (b) vacuum retention: with retain=2 a generation's dirs survive
        the compaction that supersedes them (so an in-flight reader
        finishes) and are deleted one cycle later.
    """
    import os

    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.dedup import (
        _bucket_meta,
        _bucketed_table_name,
        build_dedup_index,
        compact_dedup_index,
        dedup_against_index,
        extend_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    archive = docs.where(F.col("doc_id") % 2 == 0)
    batch1 = docs.where(F.col("doc_id") % 4 == 1)
    # probe batch: near-copies of batch1 docs so matches REQUIRE the
    # extend's postings to be visible
    toks = F.split(F.trim(F.col("text")), r"\s+")
    probe = batch1.where(F.col("doc_id") % 8 == 1).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " "
        ).alias("text"),
    )

    path = str(tmp_path / "idx")

    def results():
        return {
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in dedup_against_index(spark, path, probe).collect()
        }

    try:
        build_dedup_index(archive, path)
        # white-box file surgery below targets fixed paths — pin the
        # committed generation dir (r11 generational builds)
        from kcbdml9_big_data_processing_spark.queries.similarity import (
            _gen_current,
        )

        path = _gen_current(spark, path)
        compact_dedup_index(spark, path, n_buckets=4)  # v1
        extend_dedup_index(batch1, path)  # lands in tail_v1
        pre_v2 = results()
        assert len(pre_v2) > 0
        assert any(a >= 50_000_000 or b >= 50_000_000 for a, b, _ in pre_v2)

        compact_dedup_index(spark, path, n_buckets=4)  # v2
        assert _bucket_meta(spark, path)["version"] == 2
        assert results() == pre_v2

        # (b) retention: v1 dirs survived the v2 compaction, v0
        # (un-versioned postings) did not; a reader planned against the
        # v1 base still collects
        assert os.path.isdir(f"{path}/postings_bucketed_v1")
        assert os.path.isdir(f"{path}/postings_tail_v1")
        assert not os.path.isdir(f"{path}/postings")
        v1_reader = spark.read.parquet(f"{path}/postings_bucketed_v1")
        assert v1_reader.count() > 0

        # (a) crash simulation: remove the v2 meta record -> the
        # max-version read falls back to v1 base + v1 tail, and the
        # extend's postings are still there (they were folded into v2,
        # not truncated from v1's tail)
        removed = []
        for f in os.listdir(f"{path}/bucket_meta"):
            f = f"{path}/bucket_meta/{f}"
            if f.endswith(".json") and '"version": 2' in open(f).read():
                removed.append((f, open(f, "rb").read()))
                os.remove(f)
        assert removed, "expected a meta record carrying version=2"
        meta = _bucket_meta(spark, path)
        assert meta["version"] == 1 and meta["tail"].endswith("_tail_v1")
        # the catalog table still points at v2's base; the search path
        # must re-register it from the (rolled-back) meta
        spark.sql(f"DROP TABLE IF EXISTS {_bucketed_table_name(path)}")
        assert results() == pre_v2

        # restore the meta row ("the crash didn't happen after all")
        # and compact to v3: v1's dirs are now two generations old and
        # vacuumed; v2 survives
        for f, blob in removed:
            open(f, "wb").write(blob)
        spark.sql(f"DROP TABLE IF EXISTS {_bucketed_table_name(path)}")
        compact_dedup_index(spark, path, n_buckets=4)  # v3
        assert not os.path.isdir(f"{path}/postings_bucketed_v1")
        assert not os.path.isdir(f"{path}/postings_tail_v1")
        assert os.path.isdir(f"{path}/postings_bucketed_v2")
        assert results() == pre_v2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {_bucketed_table_name(path)}")


def test_bucket_meta_absent_is_none_unreadable_raises(spark, tmp_path):
    """An index never compacted has no ``bucket_meta`` dir and reads as
    None; a ``bucket_meta`` dir that holds an unparseable record is a
    broken commit record and raises instead of passing for an
    uncompacted index."""
    from kcbdml9_big_data_processing_spark.fs import RecordError
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        _bucket_meta,
        build_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.queries.similarity import _gen_current

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    root = str(tmp_path / "idx")
    build_dedup_index(docs, root)
    path = _gen_current(spark, root)
    assert _bucket_meta(spark, path) is None

    meta = tmp_path / "broken" / "bucket_meta"
    meta.mkdir(parents=True)
    (meta / "v1.json").write_text("not json")
    with pytest.raises(RecordError, match="build_"):
        _bucket_meta(spark, str(tmp_path / "broken"))


def test_semantic_meta_missing_raises_unreadable_propagates(spark, tmp_path):
    """Every build writes a semantic index's blocking policy, so a
    generation without ``meta`` raises naming the rebuild instead of
    searching under a guessed ``label`` policy, and an unreadable
    ``meta`` record raises its read error."""
    import os

    from kcbdml9_big_data_processing_spark.fs import RecordError
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _gen_current,
        _sem_meta,
        build_semantic_index,
    )
    from conftest import SF_SMOKE
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    corpus = read_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        F.lit("all").alias("label"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    root = str(tmp_path / "semidx")
    build_semantic_index(corpus, root, blocking="label")
    meta = f"{_gen_current(spark, root)}/meta"
    os.remove(meta)
    with pytest.raises(FileNotFoundError, match="build_semantic_index"):
        _sem_meta(spark, root)

    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "meta").write_text("not json")
    with pytest.raises(RecordError, match="build_semantic_index"):
        _sem_meta(spark, str(broken))


def test_semantic_index_label_ivf_blocking(spark, tmp_path):
    """r7 verdict #1 — production-granularity blocking: a semantic
    index built with ``label_ivf`` composite blocking (frozen coarse
    quantizer, adaptive cell count) must (1) store the policy so a
    later extend and search assign with the SAME frozen centroids,
    and (2) satisfy search == full-dedup-restricted-to-batch where
    the full side is blocked by the SAME composite labels — the
    SemDeDup deployment shape, exactly."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _DIM,
        _sem_cents,
        _sem_meta,
        _with_block_label,
        build_semantic_index,
        embedding_near_dup_pairs,
        extend_semantic_index,
        semantic_dedup_against_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings")
    # WORST-CASE corpus for plain label blocking: one label everywhere
    base = emb.select(
        "vec_id",
        F.lit("all").alias("label"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    pert = emb.select(
        (F.col("vec_id") + 30_000_000).alias("vec_id"),
        F.lit("all").alias("label"),
        F.expr(
            f"transform(sequence(1, {_DIM}), i ->"
            " cast(element_at(embedding, i) as double)"
            " + ((cast(i % 3 as double) - 1.0) * 0.02))"
        ).alias("emb"),
    )
    archive = base.where(F.col("vec_id") % 2 == 0)
    batch1 = base.where(F.col("vec_id") % 2 == 1)
    batch2 = pert

    path = str(tmp_path / "semidx")
    # adaptive K: small target so the cell count actually exceeds the
    # 16-cell floor on this corpus
    build_semantic_index(
        archive, path, blocking="label_ivf", target_cell_pop=8
    )
    meta = _sem_meta(spark, path)
    assert meta["blocking"] == "label_ivf" and meta["n_cells"] > 16
    cents = _sem_cents(spark, path, meta)
    assert cents.select("cell").distinct().count() == meta["n_cells"]

    def results(batch):
        return {
            (r.vec_a, r.vec_b, round(r.cosine, 12))
            for r in semantic_dedup_against_index(spark, path, batch).collect()
        }

    def full_restricted(corpus, batch):
        batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}
        return {
            (r.vec_a, r.vec_b, round(r.cosine, 12))
            for r in embedding_near_dup_pairs(
                _with_block_label(corpus, cents)
            ).collect()
            if r.vec_a in batch_ids or r.vec_b in batch_ids
        }

    got1 = results(batch1)
    assert got1 == full_restricted(archive.unionAll(batch1), batch1)

    # extend with batch1 (frozen centroids), then search batch2: the
    # perturbed copies must match their archived/extended twins
    extend_semantic_index(batch1, path)
    got2 = results(batch2)
    assert len(got2) > 0
    assert got2 == full_restricted(
        archive.unionAll(batch1).unionAll(batch2), batch2
    )


def test_pq_index_incremental_extend(spark, tmp_path):
    """extend_pq_index (r8 — closes the lifecycle gap: PQ was the one
    index family without incremental extension): (1) appended codes
    are exactly the argmin assignment of the batch under the STORED
    (frozen) codebooks; (2) extension is batch-split invariant; (3)
    a search over probes near the new vectors sees them."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _pq_assign,
        _pq_explode,
        build_pq_index,
        extend_pq_index,
        search_pq_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings")
    archive = emb.where(F.col("vec_id") % 2 == 0)
    # the batch is an id-shifted exact copy of the archive, so every
    # probe has an identical twin among the EXTENDED vectors — the
    # searchability assertion below is then exact, not statistical
    batch = archive.select(
        (F.col("vec_id") + 70_000_000).alias("vec_id"), "label", "embedding"
    )

    path = str(tmp_path / "pq")
    build_pq_index(archive, path)
    extend_pq_index(batch, path)

    # (1) appended codes == argmin under the stored book
    from kcbdml9_big_data_processing_spark.queries.similarity import _gen_current

    book = spark.read.parquet(f"{_gen_current(spark, path)}/book")
    w = Window.partitionBy("vec_id", "m").orderBy("dist_f", "code")
    want = {
        (r["vec_id"], r["m"]): r["code"]
        for r in _pq_assign(_pq_explode(batch), book)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    got = {
        (r["vec_id"], r["m"]): r["code"]
        for r in spark.read.parquet(f"{_gen_current(spark, path)}/codes")
        .where(F.col("vec_id") >= 70_000_000)
        .collect()
    }
    assert got == want and len(got) > 0

    # (2) batch-split invariance: one extend vs two sub-batches
    path2 = str(tmp_path / "pq2")
    build_pq_index(archive, path2)
    extend_pq_index(batch.where(F.col("vec_id") % 4 == 0), path2)
    extend_pq_index(batch.where(F.col("vec_id") % 4 == 2), path2)
    codes_a = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{_gen_current(spark, path)}/codes"
        ).collect()
    )
    codes_b = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{_gen_current(spark, path2)}/codes"
        ).collect()
    )
    assert codes_a == codes_b

    # (3) searches see the extension: probes = a few archived vectors;
    # their shifted twins (identical embeddings) must appear in the
    # result's candidate ranks
    corpus = archive.unionByName(batch)
    probes = archive.orderBy("vec_id").limit(5)
    res = search_pq_index(spark, path, probes, corpus)
    twins = {
        (r["probe_id"], r["vec_id"])
        for r in res.where(
            F.col("vec_id") == F.col("probe_id") + 70_000_000
        ).collect()
    }
    assert len(twins) == 5, "every probe's extended twin must be found"


def test_semantic_blocking_join_fallback_matches_expression(spark, tmp_path, monkeypatch):
    """Past _SEM_EXPR_CELL_MAX cells the blocking falls back from the
    inlined centroid-literal expression to the exploded join — both
    build-time training and search-time assignment. Force the bound to
    0 and pin that the whole incremental search is BIT-IDENTICAL to
    the expression path (same seeds, same fixed-point arithmetic, same
    tie-breaks)."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries import similarity as S
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings")
    base = emb.select(
        "vec_id",
        F.lit("all").alias("label"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    archive = base.where(F.col("vec_id") % 2 == 0)
    # perturbed copies of the archive, so near-dup pairs exist
    batch = archive.select(
        (F.col("vec_id") + 80_000_000).alias("vec_id"),
        "label",
        F.expr(
            "transform(emb, (x, i) ->"
            " x + ((cast(i % 3 as double) - 1.0) * 0.02))"
        ).alias("emb"),
    )

    def run(path):
        S.build_semantic_index(archive, path, blocking="label_ivf", n_cells=24)
        return {
            (r.vec_a, r.vec_b, round(r.cosine, 12))
            for r in S.semantic_dedup_against_index(spark, path, batch).collect()
        }

    expr_path = run(str(tmp_path / "expr"))
    monkeypatch.setattr(S, "_SEM_EXPR_CELL_MAX", 0)
    join_path = run(str(tmp_path / "join"))
    assert expr_path == join_path and len(expr_path) > 0


def test_index_generation_crash_safety_and_vacuum(spark, tmp_path, monkeypatch):
    """r10 (verdict #5): build_ivf/pq/semantic_index no longer
    overwrite a live index in place — tables land in a versioned
    generation dir and the SINGLE commit point is the appended
    gen_meta row, the same recipe as the ngram family's compaction.

    (a) a build that crashes before its commit (simulated by making
        _gen_commit raise) leaves the fully-written-but-uncommitted
        staging dir invisible: searches keep answering from the
        previous generation — INCLUDING vectors appended via
        extend_semantic_index after that generation's build (the
        exact loss mode of the old mode("overwrite") layout);
    (b) the retried build reuses the staging dir, commits, and
        searches cut over;
    (c) vacuum_index_generations deletes superseded generation dirs
        under retention;
    (d) a pre-r10 flat layout (no gen_meta) resolves to the root
        itself, so legacy indexes read unchanged.
    """
    import os

    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries import similarity as S
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings").select(
        "vec_id",
        F.lit("corpus").alias("label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    archive = emb.where(F.col("vec_id") % 2 == 0)
    perturb = F.transform(
        "emb", lambda x, i: x + ((i % 3).cast("double") - 1.0) * 0.02
    )
    batch1 = emb.where(F.col("vec_id") % 4 == 1).unionAll(
        archive.where(F.col("vec_id") % 8 == 0).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            "label",
            perturb.alias("emb"),
        )
    )
    batch2 = emb.where(F.col("vec_id") % 4 == 3).unionAll(
        batch1.where(F.col("vec_id") % 4 == 1).limit(5).select(
            (F.col("vec_id") + 20_000_000).alias("vec_id"),
            "label",
            perturb.alias("emb"),
        )
    )

    path = str(tmp_path / "semidx")

    def results():
        return {
            (r.vec_a, r.vec_b, round(r.cosine, 12))
            for r in S.semantic_dedup_against_index(
                spark, path, batch2
            ).collect()
        }

    S.build_semantic_index(archive, path, n_cells=16)
    assert os.path.isdir(f"{path}/g1")
    S.extend_semantic_index(batch1, path)  # appends INTO g1
    want = results()
    # batch2 contains near-copies of batch1 rows, so matches REQUIRE
    # the extend's rows to be visible
    assert any(b >= 20_000_000 for _, b, _ in want) and len(want) > 0

    # (a) crashed rebuild: everything written, commit never lands
    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(S, "_gen_commit", boom)
    try:
        S.build_semantic_index(archive.unionAll(batch1), path, n_cells=16)
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert os.path.isdir(f"{path}/g2")  # staging exists...
    assert results() == want  # ...but readers still serve g1 + extend

    # (b) retry commits the same staging dir and searches cut over.
    # The rebuilt result is NOT asserted equal to g1+extend: the
    # rebuild re-trains the coarse quantizer on archive∪batch1 where
    # g1 froze archive-trained centroids, so the label_ivf blocking —
    # and with it the candidate pair set — legitimately shifts (the
    # SemDeDup cell-boundary trade both docstrings state).
    S.build_semantic_index(archive.unionAll(batch1), path, n_cells=16)
    assert S._gen_meta_row(spark, path)["version"] == 2
    want_g2 = results()
    assert len(want_g2) > 0
    assert any(b >= 20_000_000 for _, b, _ in want_g2)

    # (c) retention GC: g1 is superseded; retain=1 deletes it
    S.vacuum_index_generations(spark, path, retain=1)
    assert not os.path.isdir(f"{path}/g1")
    assert os.path.isdir(f"{path}/g2")
    assert results() == want_g2

    # (d) legacy flat layout: a generation dir read AS an index root
    # (no gen_meta inside) resolves to itself
    got_flat = {
        (r.vec_a, r.vec_b, round(r.cosine, 12))
        for r in S.semantic_dedup_against_index(
            spark, f"{path}/g2", batch2
        ).collect()
    }
    assert got_flat == want_g2


def test_ivf_pq_builds_are_generation_committed(spark, tmp_path, monkeypatch):
    """The ivf/pq builds share the generation layer: a crashed
    rebuild never disturbs the live index, and the composed IVF-PQ
    search resolves both roots' current generations."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries import similarity as S
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0)

    ivf_path = str(tmp_path / "ivf")
    pq_path = str(tmp_path / "pq")
    S.build_ivf_index(emb, ivf_path)
    S.build_pq_index(emb, pq_path)
    want = {
        (r.probe_id, r.vec_id, r.rank)
        for r in S.search_ivfpq_index(
            spark, ivf_path, pq_path, probes, emb
        ).collect()
    }
    assert len(want) > 0

    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(S, "_gen_commit", boom)
    half = emb.where(F.col("vec_id") % 2 == 0)
    for fn, p in ((S.build_ivf_index, ivf_path), (S.build_pq_index, pq_path)):
        try:
            fn(half, p)
        except RuntimeError:
            pass
    monkeypatch.undo()
    got = {
        (r.probe_id, r.vec_id, r.rank)
        for r in S.search_ivfpq_index(
            spark, ivf_path, pq_path, probes, emb
        ).collect()
    }
    assert got == want


def test_classifier_score_differential_fuzz(spark):
    """Differential pin of the linear-classifier inference
    (operators/quality_model.classifier_score) against the pure-Python
    reference on a seeded random corpus — the strong-pin pattern from
    test_remove_repeated_spans_differential_fuzz: tokenization, the
    truncated-slice bigram boundary, the sha256 feature hash, and the
    bound-once weight lookup must agree exactly, including the
    1-token and padded-whitespace edges."""
    import random

    from kcbdml9_big_data_processing_spark.operators.quality_model import (
        classifier_score,
        classifier_score_py,
        default_weights,
    )

    weights = default_weights(64)
    rng = random.Random(20260815)
    vocab = ["a", "bb", "ccc", "the", "of", "x1", "longword", "zz", "q", "end"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15))))
        for i in range(60)
    ]
    rows += [
        (1000, "single"),
        (1001, "  padded   runs  of   spaces  "),
        # non-space whitespace: the engine tokenizer is space-only
        # trim + ASCII \s (a leading tab yields a leading '' token,
        # NBSP is not whitespace) and the twin must mirror it
        (1002, "\tleading tab"),
        (1003, "line\nbreaks\rand\x0bvt"),
        (1004, "nbsp\xa0stays one-token"),
        (1005, "trailing tab\t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["score"])
        for r in classifier_score(df, weights).collect()
    }
    assert len(got) == len(rows)
    for doc_id, text in rows:
        assert got[doc_id] == classifier_score_py(text, weights), (doc_id, text)


def test_classifier_score_respects_caller_weights(spark):
    """Weights are the caller's model: an all-zero vector scores every
    document 0 (n_feats unchanged), and scaling every weight scales
    every score — inference must not bake in the default vector."""
    from kcbdml9_big_data_processing_spark.operators.quality_model import (
        classifier_score,
        default_weights,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta")], "doc_id long, text string"
    )
    zero = {r["doc_id"]: r["score"] for r in classifier_score(df, [0] * 32).collect()}
    assert zero == {1: 0, 2: 0}
    w = default_weights(32)
    base = {r["doc_id"]: r["score"] for r in classifier_score(df, w).collect()}
    doubled = {
        r["doc_id"]: r["score"]
        for r in classifier_score(df, [2 * x for x in w]).collect()
    }
    assert doubled == {k: 2 * v for k, v in base.items()}


def test_train_classifier_bit_matches_python_twin_and_learns(spark):
    """The distributed trainer's whole integer weight trajectory is
    bit-deterministic: residuals quantize to fixed-point longs BEFORE
    the gradient aggregation, so the per-feature gradient is an exact
    integer sum under any partitioning — train_classifier on Spark,
    its pure-Python twin, and a differently-partitioned re-run must
    produce the IDENTICAL weight list (the running_totals
    integer-cents argument applied to model fitting). And the fitted
    model must actually separate a planted good/bad labeling when
    served through classifier_score."""
    import random

    from kcbdml9_big_data_processing_spark.operators.quality_model import (
        classifier_score,
        train_classifier,
        train_classifier_py,
    )

    rng = random.Random(42)
    good = [
        "the quick brown fox jumps over the lazy dog",
        "clear concise prose wins the day",
        "well formed sentences carry structure and meaning",
    ]
    bad = [
        "zzz qqq xxx kkk jjj",
        "buy now click here spam spam spam",
        "aaa aaa aaa aaa aaa aaa",
    ]
    rows = []
    for i in range(100):
        words = rng.choice(good if i % 2 == 0 else bad).split()
        rng.shuffle(words)
        rows.append(
            (" ".join(words[: rng.randint(3, len(words))]), 1 - i % 2)
        )
    dim, iters = 64, 6
    df = spark.createDataFrame(rows, "text string, label int")
    w = train_classifier(df, dim=dim, iters=iters)
    assert w == train_classifier_py(rows, dim=dim, iters=iters)
    assert w == train_classifier(df.repartition(13), dim=dim, iters=iters)
    assert any(w), "training moved no weight"

    scored = {
        r["doc_id"]: r["score"]
        for r in classifier_score(
            spark.createDataFrame(
                [(i, t) for i, (t, _) in enumerate(rows)],
                "doc_id long, text string",
            ),
            w,
        ).collect()
    }
    acc = sum(
        (scored[i] > 0) == bool(y) for i, (_, y) in enumerate(rows)
    ) / len(rows)
    assert acc >= 0.9, acc


def test_semantic_index_default_resolves_label_for_small_corpus(
    spark, tmp_path
):
    """ADVICE r11: a DEFAULT label_ivf build over a corpus no larger
    than one target cell resolves to plain label blocking (cell
    blocking bounds nothing at that size and only loses boundary-pair
    recall); the stored meta records the resolved policy. An explicit
    n_cells keeps label_ivf at any size."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _sem_meta,
        build_semantic_index,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    corpus = read_table(spark, sf, "embeddings").select(
        "vec_id",
        F.lit("all").alias("label"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    n = corpus.count()

    resolved = str(tmp_path / "small_default")
    build_semantic_index(corpus, resolved, target_cell_pop=n)
    assert _sem_meta(spark, resolved)["blocking"] == "label"

    pinned = str(tmp_path / "small_pinned")
    build_semantic_index(corpus, pinned, n_cells=16, target_cell_pop=n)
    assert _sem_meta(spark, pinned)["blocking"] == "label_ivf"

    # above one cell's population the default keeps label_ivf
    adaptive = str(tmp_path / "adaptive")
    build_semantic_index(corpus, adaptive, target_cell_pop=8)
    assert _sem_meta(spark, adaptive)["blocking"] == "label_ivf"


def test_gen_meta_absence_is_fs_checked(spark, tmp_path):
    """ADVICE r11: _gen_meta_row decides legacy-vs-generational by a
    driver-side existence check, not by swallowing read errors — a
    root with NO gen_meta reads as legacy (None), an existing but
    empty sidecar too, and the resolution isn't poisoned into the
    per-process cache by a transient failure path."""
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _gen_current,
        _gen_meta_row,
    )

    root = str(tmp_path / "idx_root")
    assert _gen_meta_row(spark, root) is None
    # empty sidecar dir (created, nothing committed) -> still legacy
    import os

    os.makedirs(f"{root}/gen_meta", exist_ok=True)
    assert _gen_meta_row(spark, root) is None
    assert _gen_current(spark, root) == root


def test_dedup_index_build_generations_crash_safe(spark, tmp_path):
    """r11: the ngram/hashes index family gets the same crash-safe
    BUILD generations as the vector indexes — a full re-freeze over a
    LIVE root stages into g{N} and flips atomically at the gen_meta
    commit; an uncommitted staging dir (crash-sim) is invisible to
    readers; superseded generations vacuum with retention."""
    import os

    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
        dedup_against_index,
        dedup_index_hashes,
        extend_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _gen_begin,
        vacuum_index_generations,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    root = str(tmp_path / "gen_root")
    v1 = spark.createDataFrame(
        [(1, words("a1")), (2, words("a2"))], "doc_id long, text string"
    )
    build_dedup_index(v1, root)
    assert os.path.isdir(f"{root}/g1")
    # extend resolves into the committed generation
    extend_dedup_index(
        spark.createDataFrame([(50, words("e50"))], "doc_id long, text string"),
        root,
    )
    stored = dedup_index_hashes(spark, root)
    assert {r["canonical_id"] for r in stored.collect()} == {1, 2, 50}

    # REBUILD over the live root: new generation, readers flip
    v2 = spark.createDataFrame(
        [(1, words("a1")), (2, words("a2")), (3, words("a3"))],
        "doc_id long, text string",
    )
    build_dedup_index(v2, root)
    assert os.path.isdir(f"{root}/g2")
    assert {
        r["canonical_id"] for r in dedup_index_hashes(spark, root).collect()
    } == {1, 2, 3}
    batch = spark.createDataFrame(
        [(101, " ".join(words("a3").split()[:-1]))], "doc_id long, text string"
    )
    pairs = dedup_against_index(spark, root, batch)
    assert {(r["doc_a"], r["doc_b"]) for r in pairs.collect()} == {(3, 101)}

    # crash-sim: a staging dir written but never committed is invisible
    gdir, v = _gen_begin(spark, root)
    assert (gdir, v) == (f"{root}/g3", 3)
    os.makedirs(gdir, exist_ok=True)
    spark.createDataFrame(
        [("deadbeef", 999)], "content_hash string, canonical_id long"
    ).write.mode("overwrite").parquet(f"{gdir}/hashes")
    assert {
        r["canonical_id"] for r in dedup_index_hashes(spark, root).collect()
    } == {1, 2, 3}

    # a third committed build supersedes; vacuum retains the last two
    build_dedup_index(v1, root)  # commits g3 (restages the crashed dir)
    vacuum_index_generations(spark, root, retain=2)
    assert not os.path.isdir(f"{root}/g1")
    assert os.path.isdir(f"{root}/g2") and os.path.isdir(f"{root}/g3")
    assert {
        r["canonical_id"] for r in dedup_index_hashes(spark, root).collect()
    } == {1, 2}


def test_gen_writers_resolve_uncached_and_legacy_vacuum(spark, tmp_path):
    """(a) WRITERS re-read gen_meta instead of trusting the
    process-lifetime cache — a rebuild committed by another process
    must not leave a long-lived extend worker appending into the
    superseded generation; (b) vacuum_index_generations deletes only
    g{N} dirs and leaves any other dir at the root alone."""
    import os

    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
        dedup_index_hashes,
        extend_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.fs import write_record
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _GEN_CACHE,
        vacuum_index_generations,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    root = str(tmp_path / "writer_root")
    build_dedup_index(
        spark.createDataFrame([(1, words("a1"))], "doc_id long, text string"),
        root,
    )
    # reader caches g1
    assert dedup_index_hashes(spark, root).count() == 1

    # simulate ANOTHER PROCESS committing g2: stage + meta record
    # without touching this process's cache
    g2 = f"{root}/g2"
    spark.createDataFrame(
        [("h2", 2)], "content_hash string, canonical_id long"
    ).write.mode("overwrite").parquet(f"{g2}/hashes")
    spark.read.parquet(f"{root}/g1/stop").write.mode("overwrite").parquet(
        f"{g2}/stop"
    )
    spark.read.schema("doc_id long, n int, k long").parquet(
        f"{root}/g1/postings"
    ).write.mode("overwrite").parquet(f"{g2}/postings")
    write_record(spark, f"{root}/gen_meta/g2.json", {"dir": g2, "version": 2})
    assert _GEN_CACHE[(spark.sparkContext.applicationId, root)] == f"{root}/g1"

    # the WRITER must land in g2 despite the stale cache
    extend_dedup_index(
        spark.createDataFrame([(10, words("e10"))], "doc_id long, text string"),
        root,
    )
    g2_hashes = {
        r["canonical_id"]
        for r in spark.read.schema("content_hash string, canonical_id long")
        .parquet(f"{g2}/hashes")
        .collect()
    }
    assert g2_hashes == {2, 10}

    # (b) non-g{N} dirs at the root survive a vacuum
    _GEN_CACHE.pop((spark.sparkContext.applicationId, root), None)
    for name in ("hashes", "stop", "postings"):
        spark.createDataFrame([(1,)], "x long").write.mode(
            "overwrite"
        ).parquet(f"{root}/{name}")
    vacuum_index_generations(spark, root, retain=2)  # default: untouched
    assert os.path.isdir(f"{root}/stop")

def test_index_writer_lock_contention_and_release(spark, tmp_path):
    """r11 verdict #4: the single-writer-per-root contract is
    enforceable opt-in. With locking enabled, (a) a held lock makes a
    second writer raise IndexWriterLockError; (b) a completed write
    releases the lock so the next writer proceeds; (c) a stale lock
    (older than the TTL — a crashed writer) is stolen; (d) with
    locking disabled (default) nothing is created or checked."""
    import os
    import time as _time

    import pytest as _pytest

    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        IndexWriterLockError,
        _maybe_writer_lock,
        disable_index_writer_locking,
        enable_index_writer_locking,
        force_unlock_index,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{j}" for j in range(10)))],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "locked_idx")

    # (d) default-off: a build leaves no lock file behind and takes
    # no lock during the write
    build_dedup_index(docs, idx)
    assert not os.path.exists(f"{idx}/_writer.lock")

    enable_index_writer_locking(ttl_sec=3600)
    try:
        # (a) contention: with ANOTHER process's live lock on the root
        # (simulated by a fresh foreign lock file — same-process
        # nesting is reentrant by design, a writer composed of writers
        # must not self-deadlock), a writer raises instead of
        # interleaving
        with open(f"{idx}/_writer.lock", "w"):
            pass
        with _pytest.raises(IndexWriterLockError, match="locked"):
            build_dedup_index(docs, idx)
        os.remove(f"{idx}/_writer.lock")

        # reentrancy: the same process holding the root can still run
        # writers under it (no self-deadlock), and the OUTER frame
        # owns the release
        with _maybe_writer_lock(spark, idx):
            build_dedup_index(docs, idx)
            assert os.path.exists(f"{idx}/_writer.lock")
        assert not os.path.exists(f"{idx}/_writer.lock")
        # (b) release on exit: the same write now proceeds, and its
        # own lock is gone afterwards
        extend_dedup_index(
            spark.createDataFrame(
                [(2, "x y z a b c d e f g")], "doc_id long, text string"
            ),
            idx,
        )
        assert not os.path.exists(f"{idx}/_writer.lock")

        # (c) TTL steal: a crashed writer's stale lock doesn't block
        # forever — with an expired TTL the next writer takes over
        with open(f"{idx}/_writer.lock", "w"):
            pass
        old = _time.time() - 7200
        os.utime(f"{idx}/_writer.lock", (old, old))
        enable_index_writer_locking(ttl_sec=1800)
        build_dedup_index(docs, idx)  # steals, completes, releases
        assert not os.path.exists(f"{idx}/_writer.lock")

        # force_unlock_index clears a held lock immediately
        with open(f"{idx}/_writer.lock", "w"):
            pass
        force_unlock_index(spark, idx)
        assert not os.path.exists(f"{idx}/_writer.lock")
    finally:
        disable_index_writer_locking()


def test_writer_lock_release_is_content_based(spark, tmp_path):
    """r12 verdict #2: holder identity lives in the lock file's
    CONTENT, not its mtime. (a) A TTL steal + re-acquire landing in
    the SAME mtime tick (forced by pinning both files' mtimes equal)
    must not trick the original holder's release into deleting the
    new holder's fresh lock. (b) A foreign lock that appears where
    ours was (crash + manual relock) is left intact by our release.
    (c) A second THREAD of the same application contends instead of
    entering 'reentrantly' (r12 ADVICE: old (app, root) keying let it
    in and released under the other writer)."""
    import os
    import threading as _threading
    import time as _time

    import pytest as _pytest

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        IndexWriterLockError,
        _lock_handles,
        _maybe_writer_lock,
        _read_lock_token,
        disable_index_writer_locking,
        enable_index_writer_locking,
    )

    root = str(tmp_path / "tick_idx")
    lock = f"{root}/_writer.lock"
    enable_index_writer_locking(ttl_sec=1800)
    try:
        # (a) holder A acquires, then "crashes past the TTL": age the
        # lock file; holder B (another thread — per-thread keying
        # makes it contend/steal like a foreign process) steals and
        # re-acquires; pin B's lock mtime EQUAL to A's token-era
        # mtime to simulate a coarse-granularity filesystem tick
        # (HDFS: 1 s). A's release must read B's uuid, mismatch, and
        # leave the file.
        a_cm = _maybe_writer_lock(spark, root)
        a_cm.__enter__()
        old = _time.time() - 7200
        os.utime(lock, (old, old))
        b_entered = _threading.Event()
        b_release = _threading.Event()

        def b_steal():
            with _maybe_writer_lock(spark, root):  # B steals the stale lock
                os.utime(lock, (old, old))  # same tick as A's acquire
                b_entered.set()
                b_release.wait(30)

        bt = _threading.Thread(target=b_steal)
        bt.start()
        assert b_entered.wait(30)
        fs, p = _lock_handles(spark, root)
        b_token = _read_lock_token(fs, p)
        assert b_token
        a_cm.__exit__(None, None, None)  # A's release
        assert os.path.exists(lock), "A's release deleted B's lock"
        assert _read_lock_token(fs, p) == b_token
        b_release.set()
        bt.join(30)
        assert not os.path.exists(lock)  # B's own release still works

        # (b) foreign manual lock in place of ours: release leaves it
        a_cm = _maybe_writer_lock(spark, root)
        a_cm.__enter__()
        os.remove(lock)
        with open(lock, "w") as f:
            f.write("foreign")
        a_cm.__exit__(None, None, None)
        assert os.path.exists(lock)
        os.remove(lock)

        # (c) same-process, different thread: contends, never enters
        with _maybe_writer_lock(spark, root):
            caught: list = []

            def attempt():
                try:
                    with _maybe_writer_lock(spark, root):
                        caught.append("entered")
                except IndexWriterLockError:
                    caught.append("locked")

            t = _threading.Thread(target=attempt)
            t.start()
            t.join()
            assert caught == ["locked"]
        assert not os.path.exists(lock)
    finally:
        disable_index_writer_locking()


def test_writer_lock_rejects_non_positive_ttl():
    """ttl<=0 would make every held lock instantly stale — enforcement
    collapses to steal-anything, so enable rejects it (r12 review)."""
    import pytest as _pytest

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        enable_index_writer_locking,
    )

    for bad in (0, -1, -0.5):
        with _pytest.raises(ValueError, match="ttl_sec"):
            enable_index_writer_locking(bad)
