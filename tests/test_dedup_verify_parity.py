"""Parity of the dedup verify kernels against frozen copies of the
forms they replaced: the per-pair gather cosine verify of
embedding_near_dups (corpus toPandas + broadcast matrix) and the
per-gram re-split word shingles behind ngram_jaccard_pairs. Rows and
doubles must be bitwise equal."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from pyshepseg_spark.operators import dedup
from pyshepseg_spark.operators.dedup import (_shingles,
                                             embedding_near_dups,
                                             hyperplane_band_keys,
                                             ngram_jaccard_pairs,
                                             normalized_text)
from tests.test_dedup_text_similarity import SF_DIR


# ---------------------------------------------------------------------
# frozen reference: embedding_near_dups as a band self-join verified
# pair by pair against a collected (toPandas), broadcast vector matrix
# ---------------------------------------------------------------------

def _ref_band_keys(emb, id_col, vec_col, bits, bands, seed):
    width = bits // bands
    dim = emb.select(F.size(vec_col).alias("d")).first()["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bits, dim)).astype(np.float32)

    @pandas_udf("long")
    def sketch(vs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float32) for v in vs])
        s = (m @ planes.T) > 0
        out = np.zeros(len(vs), dtype=np.int64)
        for i in range(bits):
            out |= s[:, i].astype(np.int64) << i
        return pd.Series(out)

    mask = (1 << width) - 1
    sk0 = emb.select(id_col, vec_col, sketch(F.col(vec_col)).alias("sk"))
    return sk0.select(id_col, vec_col,
                      F.posexplode(F.array(*[
                          (F.shiftrightunsigned("sk", j * width)
                           .bitwiseAND(F.lit(mask)))
                          for j in range(bands)])).alias("band", "key"))


def _ref_embedding_near_dups(emb, id_col="vec_id", vec_col="embedding",
                             threshold=0.95, bits=16, bands=4, seed=42):
    from pyshepseg_spark.operators.similarity import (_as_matrix,
                                                      _concat_batches,
                                                      _np_elem_dtype,
                                                      fold_dots_t,
                                                      fold_norms)
    vdt = _np_elem_dtype(emb, vec_col)
    pdf = emb.select(id_col, vec_col).toPandas()
    vecs = _as_matrix(pdf[vec_col], vdt)
    ids_index = pd.Index(pdf[id_col])
    bc = emb.sparkSession.sparkContext.broadcast((ids_index, vecs))
    thr = float(threshold)
    npart = emb.sparkSession.sparkContext.defaultParallelism
    keys = (_ref_band_keys(emb, id_col, vec_col, bits, bands, seed)
            .select(id_col, "band", "key")
            .repartition(npart, "band", "key")
            .localCheckpoint(eager=False))
    a = keys.select(F.col(id_col).alias("a"), "band", "key")
    b = keys.select(F.col(id_col).alias("b"), "band", "key")
    cand = (a.join(b, ["band", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b"))

    def verify(it):
        import pyarrow as pa
        idx_, vecs_ = bc.value
        nf = fold_norms(vecs_)
        v64 = vecs_.astype(np.float64, copy=False)
        vt = np.ascontiguousarray(vecs_.T)
        for tbl in _concat_batches(it):
            aa = tbl.column(0).combine_chunks()
            bb = tbl.column(1).combine_chunks()
            ia = idx_.get_indexer(aa.to_numpy(zero_copy_only=False))
            ib = idx_.get_indexer(bb.to_numpy(zero_copy_only=False))
            d = np.einsum("ij,ij->i", v64[ia], v64[ib])
            cos = d / (nf[ia] * nf[ib])
            keep = cos >= thr
            redo = np.nonzero(keep | (np.abs(cos - thr) <= 1e-4))[0]
            if len(redo):
                ra, rb = ia[redo], ib[redo]
                cos[redo] = fold_dots_t(vt[:, ra], vt[:, rb]) \
                    / (nf[ra] * nf[rb])
                keep = cos >= thr
            if not keep.any():
                continue
            mask = pa.array(keep)
            yield pa.record_batch(
                [aa.filter(mask), bb.filter(mask),
                 pa.array(cos[keep], pa.float64())],
                names=["a", "b", "cosine"])

    idt = dict(emb.select(F.col(id_col).alias("i")).dtypes)["i"]
    return (cand.mapInArrow(verify, f"a {idt}, b {idt}, cosine double")
            .distinct())


@pytest.fixture(scope="module")
def emb_planted(spark):
    """sf0.001 embeddings plus scaled and perturbed copies of the
    first 30 vectors, so both thresholds see near-dup survivors and
    near-threshold replays."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding")
    rng = np.random.default_rng(7)
    pdf = e.filter(F.col("vec_id") < 30).toPandas()
    rows = []
    for vid, v in zip(pdf["vec_id"], pdf["embedding"]):
        v = np.asarray(v, dtype=np.float32)
        rows.append((int(vid) + 10_000, (v * 1.0001).tolist()))
        noise = rng.standard_normal(len(v)).astype(np.float32)
        rows.append((int(vid) + 20_000,
                     (v + 0.2 * np.linalg.norm(v) / np.sqrt(len(v))
                      * noise).astype(np.float32).tolist()))
    extra = spark.createDataFrame(rows, e.schema)
    return e.unionByName(extra).cache()


def _sorted(df):
    return (df.select("a", "b", "cosine").toPandas()
            .sort_values(["a", "b"], ignore_index=True))


def _assert_bitwise(got, want):
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert np.array_equal(got["cosine"].to_numpy().view(np.int64),
                          want["cosine"].to_numpy().view(np.int64))


@pytest.mark.parametrize("threshold", [0.3, 0.95])
@pytest.mark.parametrize("ids", ["long", "string"])
def test_embedding_near_dups_matches_pair_gather(spark, emb_planted,
                                                 monkeypatch, threshold,
                                                 ids):
    """(a, b, cosine) equal the frozen pair-gather verify bitwise, for
    long and string ids (a < b by string value), with the default
    GEMM block and with a 3-row block, so buckets span many blocks."""
    e = emb_planted
    if ids == "string":
        e = e.select(F.concat(F.lit("v"), F.col("vec_id").cast("string"))
                     .alias("vec_id"), "embedding")
    kw = dict(threshold=threshold, bits=16, bands=4)
    want = _sorted(_ref_embedding_near_dups(e, **kw))
    _assert_bitwise(_sorted(embedding_near_dups(e, **kw)), want)
    monkeypatch.setattr(dedup, "GEMM_BLOCK_ROWS", 3)
    got = _sorted(embedding_near_dups(e, **kw))
    _assert_bitwise(got, want)
    if ids == "string":
        assert (got["a"] < got["b"]).all()


def test_hyperplane_band_keys_match_frozen_planes(spark, emb_planted):
    """Planes built inside the sketch UDF from the vector length give
    the keys of the up-front dimension read."""
    kw = dict(bits=24, bands=3, seed=42)
    cols = ["vec_id", "band", "key"]
    got = (hyperplane_band_keys(emb_planted, **kw).select(*cols)
           .toPandas().sort_values(cols, ignore_index=True))
    want = (_ref_band_keys(emb_planted, "vec_id", "embedding", **kw)
            .select(*cols).toPandas().sort_values(cols, ignore_index=True))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_embedding_near_dups_no_corpus_collect(spark, emb_planted,
                                              monkeypatch):
    """The operator neither collects the corpus with toPandas nor
    broadcasts it: it runs with both entry points patched to raise."""
    from pyspark import SparkContext
    from pyspark.sql import DataFrame

    want = _sorted(_ref_embedding_near_dups(emb_planted, threshold=0.95))

    def refuse(*_a, **_k):
        raise AssertionError("corpus collect or broadcast")

    monkeypatch.setattr(SparkContext, "broadcast", refuse)
    monkeypatch.setattr(DataFrame, "toPandas", refuse)
    rows = embedding_near_dups(emb_planted, threshold=0.95).collect()
    got = (pd.DataFrame([r.asDict() for r in rows])
           .sort_values(["a", "b"], ignore_index=True))
    _assert_bitwise(got[["a", "b", "cosine"]], want)


def test_embedding_near_dups_empty_input(spark, emb_planted):
    """An empty input gives empty key and pair frames (the up-front
    dimension read raised TypeError on None)."""
    empty = emb_planted.limit(0)
    assert hyperplane_band_keys(empty).collect() == []
    assert embedding_near_dups(empty).collect() == []


# ---------------------------------------------------------------------
# frozen reference: the word k-shingle expression with the split
# inlined in the transform lambda (re-run for every gram)
# ---------------------------------------------------------------------

def _ref_shingles(text_col, k):
    words = F.split(normalized_text(F.col(text_col)), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.transform(
        idx, lambda i: F.xxhash64(
            F.concat_ws(" ", F.slice(words, i + 1, k))))


def _ref_ngram_jaccard_pairs(docs, cand_pairs, k, threshold):
    sh = docs.select(F.col("doc_id"),
                     F.array_distinct(_ref_shingles("text", k)).alias("sh"))
    a = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    j = (cand_pairs.join(a, "a").join(b, "b")
         .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
         .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
         .withColumn("jaccard",
                     F.when(F.col("uni") > 0, F.col("inter") / F.col("uni"))
                     .otherwise(F.lit(0.0))))
    return j.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


EDGE_TEXTS = [
    None, "", " ", "\t\n  \r\n", "  leading spaces here and more words",
    "trailing spaces here and more words   ",
    "tab\tseparated\twords\tin\ta\trow\tof\ttext",
    "newline\nseparated\n\nwords\nin a row of text",
    "  mixed\t \n runs   of\t\twhitespace \n everywhere in it ",
    "MiXeD CaSe Words In A Row Of Text",
    "mixed case words in a row of text",
    "one", "two words", "three short words", "only four words here",
]


@pytest.fixture(scope="module")
def docs_with_edges(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    edges = spark.createDataFrame(
        [(100_000 + i, t) for i, t in enumerate(EDGE_TEXTS)], d.schema)
    return d.unionByName(edges).cache()


@pytest.mark.parametrize("k", [3, 5])
def test_shingles_match_per_gram_split(spark, docs_with_edges, k):
    """The split-once shingle arrays equal the inlined-split form for
    every sf0.001 doc and every edge row, element order included."""
    got = {r["doc_id"]: r["sh"] for r in
           _shingles(docs_with_edges, "text", k, ["doc_id"]).collect()}
    want = {r["doc_id"]: r["sh"] for r in docs_with_edges.select(
        "doc_id", _ref_shingles("text", k).alias("sh")).collect()}
    assert len(got) == len(EDGE_TEXTS) + 500
    assert got == want


def test_ngram_jaccard_pairs_matches_reference(spark, docs_with_edges):
    """Equal jaccard doubles for a candidate list that pairs every
    doc with its id successor, plus every pair of edge rows, at
    threshold 0 (every pair is emitted)."""
    ids = sorted(r["doc_id"] for r in
                 docs_with_edges.select("doc_id").collect())
    edge_ids = [i for i in ids if i >= 100_000]
    pairs = list(zip(ids[:-1], ids[1:])) + [
        (x, y) for x in edge_ids for y in edge_ids if x < y]
    cand = spark.createDataFrame(sorted(set(pairs)), "a long, b long")
    cols = ["a", "b"]
    got = (ngram_jaccard_pairs(docs_with_edges, cand, k=5, threshold=0.0)
           .toPandas().sort_values(cols, ignore_index=True))
    want = (_ref_ngram_jaccard_pairs(docs_with_edges, cand, 5, 0.0)
            .toPandas().sort_values(cols, ignore_index=True))
    assert len(want) == len(set(pairs))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
