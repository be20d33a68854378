"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ast
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
from pyshepseg_spark.constants import IMG_NULL_VAL  # noqa: E402
from pyshepseg_spark.sources.imagegen import generate_image  # noqa: E402

# ---------------------------------------------------------------- inputs


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    return checks.frame_hash(a) == checks.frame_hash(b)


@pytest.mark.parametrize("make", [
    lambda s: gen.images_pdf(2, 96, s),
    lambda s: gen.points_pdf(gen.images_pdf(2, 96, s), 50, s),
    lambda s: gen.documents_pdf(200, 10, s),
    lambda s: gen.embeddings_pdf(200, 10, 16, s).assign(
        embedding=lambda d: d["embedding"].map(lambda v: v.tobytes())),
])
def test_generators_deterministic_and_seeded(make):
    assert _frames_equal(make(3), make(3))
    assert not _frames_equal(make(3), make(4))


def test_planted_near_dups():
    """Planted pairs spread over the similarity bands the LSH settings
    are sized for, and unrelated items stay far below the thresholds."""
    docs = gen.documents_pdf(300, 30, 5)
    texts = dict(zip(docs["doc_id"], docs["text"]))
    dups = [d for d in texts if d >= gen.DUP_OFFSET]
    assert len(dups) == 30
    jac = []
    for d in dups:
        ga = checks.word_grams(texts[d - gen.DUP_OFFSET], gen.SHINGLE_K)
        gb = checks.word_grams(texts[d], gen.SHINGLE_K)
        jac.append(len(ga & gb) / len(ga | gb))
    assert min(jac) >= gen.DOC_JACCARD[0]
    assert max(jac) <= gen.DOC_JACCARD[1]
    assert min(jac) < 0.88 and max(jac) > 0.92
    ga, gb = (checks.word_grams(texts[i], gen.SHINGLE_K) for i in (0, 1))
    assert not ga & gb
    emb = gen.embeddings_pdf(300, 30, 32, 5)
    vecs = {k: v.astype(np.float64)
            for k, v in zip(emb["vec_id"], emb["embedding"])}

    def cos(a, b):
        return a @ b / (np.linalg.norm(a) * np.linalg.norm(b))

    cs = [cos(vecs[v], vecs[v - gen.DUP_OFFSET])
          for v in vecs if v >= gen.DUP_OFFSET]
    assert len(cs) == 30
    assert min(cs) >= gen.VEC_COSINE[0] - 1e-6
    assert max(cs) <= gen.VEC_COSINE[1] + 1e-6
    assert min(cs) < 0.97 and max(cs) > 0.98
    assert abs(cos(vecs[0], vecs[1])) < 0.9


# ---------------------------------------------------------------- checks


def _truth_case():
    """A correct mosaic result built from the generator's own truth
    raster: labels, per-segment pixel counts and point probes."""
    _, truth = generate_image(0, size=96, seed=9)
    seg = truth.astype(np.int64)
    valid = truth > 0
    ids, cnt = np.unique(seg[valid], return_counts=True)
    stats = pd.DataFrame({"image_id": "img_000000", "seg_id": ids,
                          "band": 0, "pix_count": cnt})
    rng = np.random.default_rng(0)
    xs, ys = rng.uniform(0, 96, 40), rng.uniform(0, 96, 40)
    pis = pd.DataFrame({
        "image_id": "img_000000", "point_id": np.arange(40), "x": xs,
        "y": ys, "seg_id": seg[ys.astype(int), xs.astype(int)]})
    return seg, valid, stats, pis


def test_mosaic_checks_pass_then_fail_on_corruption():
    seg, valid, stats, pis = _truth_case()
    sample = np.arange(0, 40, 3)
    images = {"img_000000": seg}
    assert checks.mosaic_labels(seg, valid) == []
    assert checks.stats_pixcount(stats, {"img_000000": int(valid.sum())}) \
        == []
    assert checks.probe_values(pis, images, sample) == []

    bad = seg.copy()
    bad[np.argwhere(~valid)[0][0], np.argwhere(~valid)[0][1]] = 1
    assert checks.mosaic_labels(bad, valid)
    bad_stats = stats.assign(pix_count=stats["pix_count"] + (
        np.arange(len(stats)) == 0))
    assert checks.stats_pixcount(bad_stats,
                                 {"img_000000": int(valid.sum())})
    assert checks.frame_hash(bad_stats) != checks.frame_hash(stats)
    bad_pis = pis.assign(seg_id=np.where(pis["point_id"] == sample[1],
                                         pis["seg_id"] + 1, pis["seg_id"]))
    assert checks.probe_values(bad_pis, images, sample)
    assert checks.probe_values(pis[pis["point_id"] != sample[0]], images,
                               sample)


def _dup_case():
    docs = gen.documents_pdf(60, 6, 2)
    texts = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    planted = [(d - gen.DUP_OFFSET, d) for d in texts
               if d >= gen.DUP_OFFSET]
    jac = []
    for a, b in planted:
        ga, gb = checks.word_grams(texts[a], 5), checks.word_grams(
            texts[b], 5)
        jac.append(len(ga & gb) / len(ga | gb))
    text = pd.DataFrame({"a": [a for a, _ in planted],
                         "b": [b for _, b in planted], "jaccard": jac})
    emb = gen.embeddings_pdf(60, 6, 16, 2)
    vecs = dict(zip(emb["vec_id"].astype(int), emb["embedding"]))
    vplanted = [(v - gen.DUP_OFFSET, v) for v in vecs
                if v >= gen.DUP_OFFSET]
    vec = pd.DataFrame({"a": [a for a, _ in vplanted],
                        "b": [b for _, b in vplanted], "cosine": 1.0})
    return texts, planted, text, vecs, vplanted, vec


def test_dedup_checks_pass_then_fail_on_corruption():
    texts, planted, text, vecs, vplanted, vec = _dup_case()
    assert checks.text_pairs(text, texts, planted, 5, 0.8) == []
    assert checks.vector_pairs(vec, vecs, vplanted, 0.95) == []
    # a missing planted pair, a misreported score, a pair under threshold
    assert checks.text_pairs(text.iloc[1:], texts, planted, 5, 0.8)
    assert checks.text_pairs(text.assign(jaccard=0.5), texts, planted,
                             5, 0.8)
    assert checks.text_pairs(
        pd.concat([text, pd.DataFrame({"a": [0], "b": [1],
                                       "jaccard": [0.0]})]),
        texts, planted, 5, 0.8)
    assert checks.vector_pairs(vec.iloc[1:], vecs, vplanted, 0.95)
    assert checks.vector_pairs(
        pd.concat([vec, pd.DataFrame({"a": [0], "b": [1],
                                      "cosine": [1.0]})]),
        vecs, vplanted, 0.95)


def test_topk_check_pass_then_fail_on_corruption():
    emb = gen.embeddings_pdf(50, 0, 8, 1)
    m = np.stack(emb["embedding"]).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    rows = []
    for q in range(4):
        order = np.argsort(-(m @ m[q]), kind="stable")[:3]
        rows += [(q, int(c), r + 1) for r, c in enumerate(order)]
    topk = pd.DataFrame(rows, columns=["q_id", "c_id", "rank"])
    assert checks.topk_self(topk, [0, 1, 2, 3], 3) == []
    swapped = topk.copy()
    swapped.loc[0, "c_id"], swapped.loc[1, "c_id"] = \
        topk.loc[1, "c_id"], topk.loc[0, "c_id"]
    assert checks.topk_self(swapped, [0, 1, 2, 3], 3)
    assert checks.topk_self(topk[topk["rank"] < 3], [0, 1, 2, 3], 3)


# ---------------------------------------------------------------- spans


def _span(i, name, s, e, parent=None, op=0):
    return spans.Span(i, name, s, e, parent, op)


def test_self_time_arithmetic():
    sp = [_span(0, "op", 0.0, 10.0),
          _span(1, "a", 1.0, 4.0, 0),
          _span(2, "b", 3.0, 6.0, 0),      # overlaps a: union 1..6
          _span(3, "a.x", 1.5, 2.0, 1),
          _span(4, "c", 9.0, 12.0, 0)]     # runs past its parent
    st = spans.self_times(sp)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    by_op = spans.self_time_by_op(sp + [_span(5, "a", 0, 1, None, 1)])
    assert by_op[0]["a"] == pytest.approx(2.5)
    assert by_op[1] == {"a": pytest.approx(1.0)}
    assert spans.covered([(0, 1), (0.5, 2), (3, 4)], 0, 3.5) \
        == pytest.approx(2.5)


def test_tracer_records_nesting_and_noop_when_disabled():
    tr = spans.Tracer(True)
    tr.op = 7
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("outer", None, 7), ("inner", 0, 7)]
    off = spans.Tracer(False)
    assert off.stage("x", lambda: 3) == 3
    assert off.spans == []


def test_spark_totals_by_op():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"perfbench.op": "2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1500, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Stage Attempt ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "10"}]},
         "Task Metrics": {"Executor Run Time": 500,
                          "Executor CPU Time": 2e8, "JVM GC Time": 5,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 7},
                          "Shuffle Read Metrics": {
                              "Remote Bytes Read": 1,
                              "Local Bytes Read": 2,
                              "Fetch Wait Time": 3}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Stage Attempt ID": 0, "Task Metrics": {"Executor Run Time": 9}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 3000},
    ]
    out = spans.spark_totals_by_op(ev)
    assert list(out) == [2]
    d = out[2]
    assert (d["spark.jobs"], d["spark.stages"], d["spark.tasks"]) == (
        1, 1, 1)
    assert d["spark.job_active_s"] == pytest.approx(2.0)
    assert d["spark.executor_run_s"] == pytest.approx(0.5)
    assert d["spark.executor_cpu_s"] == pytest.approx(0.2)
    assert d["spark.shuffle_read_bytes"] == 3
    assert d["spark.python_bytes_sent"] == 10


# ---------------------------------------------------------------- hygiene


def _sources():
    for name in sorted(os.listdir(BENCH)):
        if name.endswith(".py"):
            with open(os.path.join(BENCH, name)) as f:
                yield name, f.read()


def test_no_reference_harness_imports():
    """No import of the reference harness or the reference package, and
    no absolute path other than the kernel's /proc files."""
    banned = ("refharness", "pyshepseg.", "reference")
    for name, src in _sources():
        for node in ast.walk(ast.parse(src)):
            mods = []
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""] + [a.name for a in node.names]
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and node.value[:1] == "/" and len(node.value) > 1):
                assert node.value.startswith("/proc/"), (name, node.value)
            for m in mods:
                assert not any(b in m for b in banned), (name, m)


def test_benchmark_json_names_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
