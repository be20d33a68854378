"""Output checks. Each returns a list of failure messages (empty when
the output is correct) and works on plain numpy/pandas values, so a
deliberately corrupted result can be fed to it in a test."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def mosaic_labels(seg: np.ndarray, valid: np.ndarray) -> list[str]:
    """No null pixel of the painted mosaic carries a seg id. (The
    converse does not hold on the default sequential stitch: like the
    reference it can recode a crossing segment to null, so some
    non-null pixels may keep id 0; their count is reported, not
    failed.)"""
    bad = int(((seg != 0) & ~valid).sum())
    return [f"{bad} null pixels with a segment id"] if bad else []


def stats_pixcount(stats: pd.DataFrame,
                   valid_px: dict[str, int]) -> list[str]:
    """Per image, band-0 pix_count summed over segments equals the
    image's count of labelled non-null pixels."""
    got = (stats[stats["band"] == 0].groupby("image_id")["pix_count"]
           .sum().to_dict())
    return [f"{img}: pix_count {int(got.get(img, 0))} != {n}"
            for img, n in valid_px.items() if int(got.get(img, 0)) != n]


def frame_hash(df: pd.DataFrame) -> str:
    """Order-independent content hash of a result frame."""
    d = df.sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.sha256(
        pd.util.hash_pandas_object(d, index=False).values.tobytes()
    ).hexdigest()


def probe_values(pis: pd.DataFrame, seg: dict[str, np.ndarray],
                 sample: np.ndarray) -> list[str]:
    """For the sampled point ids, seg_id equals the assembled raster's
    value under the point (0 outside the raster)."""
    out = []
    sub = pis[pis["point_id"].isin(sample)]
    want = len(sample) * len(seg)
    if len(sub) != want:
        out.append(f"{len(sub)} sampled probe rows, expected {want}")
    for r in sub.itertuples(index=False):
        img = seg[r.image_id]
        ix, iy = int(np.floor(r.x)), int(np.floor(r.y))
        ok = 0 <= iy < img.shape[0] and 0 <= ix < img.shape[1]
        exp = int(img[iy, ix]) if ok else 0
        if int(r.seg_id) != exp:
            out.append(f"point {r.image_id}/{r.point_id}: "
                       f"seg {r.seg_id} != {exp}")
    return out


def word_grams(text: str, k: int) -> set[str]:
    """Distinct word k-grams of the normalised text (dedup.normalized_
    text + the shingle window of ngram_jaccard_pairs)."""
    words = " ".join(text.lower().split()).split(" ")
    return {" ".join(words[i:i + k])
            for i in range(max(len(words) - k, 0) + 1)}


def text_pairs(pairs: pd.DataFrame, texts: dict[int, str],
               planted: list[tuple[int, int]], k: int,
               threshold: float) -> list[str]:
    """Every planted pair is emitted, and every emitted pair's exact
    word k-gram Jaccard clears the threshold and matches the reported
    value."""
    out = []
    got = set(zip(pairs["a"].astype(int), pairs["b"].astype(int)))
    miss = [p for p in planted if p not in got]
    if miss:
        out.append(f"{len(miss)} planted doc pairs missing, e.g. "
                   f"{miss[0]}")
    for r in pairs.itertuples(index=False):
        ga, gb = word_grams(texts[int(r.a)], k), word_grams(
            texts[int(r.b)], k)
        j = len(ga & gb) / len(ga | gb)
        if j < threshold or abs(j - float(r.jaccard)) > 1e-9:
            out.append(f"doc pair {r.a},{r.b}: jaccard {j:.4f} "
                       f"(reported {r.jaccard:.4f})")
    return out


def vector_pairs(pairs: pd.DataFrame, vecs: dict[int, np.ndarray],
                 planted: list[tuple[int, int]],
                 threshold: float) -> list[str]:
    """Every planted pair is emitted, and every emitted pair's float64
    cosine clears the threshold."""
    out = []
    got = set(zip(pairs["a"].astype(int), pairs["b"].astype(int)))
    miss = [p for p in planted if p not in got]
    if miss:
        out.append(f"{len(miss)} planted vector pairs missing, e.g. "
                   f"{miss[0]}")
    for r in pairs.itertuples(index=False):
        a = vecs[int(r.a)].astype(np.float64)
        b = vecs[int(r.b)].astype(np.float64)
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        if cos < threshold - 1e-6:
            out.append(f"vector pair {r.a},{r.b}: cosine {cos:.6f}")
    return out


def topk_self(topk: pd.DataFrame, queries: list[int],
              k: int) -> list[str]:
    """Each query (a corpus vector without a planted copy) gets k
    ranked rows, ranks 1..k, and finds itself at rank 1."""
    out = []
    for q in queries:
        rows = topk[topk["q_id"] == q].sort_values("rank")
        if list(rows["rank"]) != list(range(1, k + 1)):
            out.append(f"query {q}: ranks {list(rows['rank'])}")
        elif int(rows["c_id"].iloc[0]) != q:
            out.append(f"query {q}: rank 1 is {rows['c_id'].iloc[0]}")
    return out
