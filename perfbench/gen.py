"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
gives byte-identical inputs. The engine only ever receives the
generated tables; nothing here calls an engine operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyshepseg_spark.sources.imagegen import (caption_points,
                                              generate_image)

# planted near-dup ids live above this offset
DUP_OFFSET = 1_000_000
# corpus vocabulary size and document length range (words)
VOCAB = 5000
WORDS = (80, 160)
# word k-gram length the planted document Jaccards are measured in
SHINGLE_K = 5
# planted near-dup similarity bands: exact word 5-gram Jaccard for
# documents, exact cosine for vectors
DOC_JACCARD = (0.85, 0.95)
VEC_COSINE = (0.96, 0.99)


def images_pdf(n_images: int, size: int, seed: int,
               k: int | None = None) -> pd.DataFrame:
    """The engine's images table (input_hint schema + num_clusters):
    Voronoi scenes from the engine's fixture generator, PNG-encoded,
    one per row. ``k`` fixes the region count (None: the generator
    draws 12-24 per image)."""
    rows = []
    for i in range(n_images):
        row, _ = generate_image(i, size=size, seed=seed, k=k)
        row["num_clusters"] = np.int32(
            int(row["caption"].split(": ")[1].split()[0]))
        rows.append(row)
    return pd.DataFrame(rows)


def points_pdf(images: pd.DataFrame, per_image: int,
               seed: int) -> pd.DataFrame:
    """Caption-labelled probe points, ``per_image`` per image."""
    return pd.concat([
        caption_points(r.image_id, r.caption, int(r.w), int(r.h),
                       n_points=per_image, seed=seed)
        for r in images.itertuples(index=False)], ignore_index=True)


def documents_pdf(n_docs: int, n_dups: int, seed: int) -> pd.DataFrame:
    """(doc_id, text) corpus with ``n_dups`` planted near-duplicates.

    Base documents are uniform draws from a seeded vocabulary, so two
    base documents share almost no word 5-grams. A planted duplicate
    of document d gets id DUP_OFFSET + d and is d with m interior
    words replaced by new ones, at least SHINGLE_K apart: each
    replacement swaps SHINGLE_K of the G grams, so the exact Jaccard
    is (G - 5m) / (G + 5m). m is drawn per pair so that the Jaccards
    spread over DOC_JACCARD (the reachable part of it: one
    replacement in a 160-word document already gives 0.94)."""
    rng = np.random.default_rng(seed * 1_000_033 + 11)
    lex = np.array([_word(rng) for _ in range(VOCAB)])
    lens = rng.integers(WORDS[0], WORDS[1] + 1, size=n_docs)
    texts = [" ".join(lex[rng.integers(0, VOCAB, size=n)])
             for n in lens]
    src = np.sort(rng.choice(n_docs, size=n_dups, replace=False))
    ids = list(range(n_docs))
    k = SHINGLE_K
    for d in src:
        w = texts[d].split(" ")
        g = len(w) - k + 1
        target = rng.uniform(*DOC_JACCARD)
        m = max(1, round(g * (1 - target) / (k * (1 + target))))
        while m > 1 and (g - k * m) / (g + k * m) < DOC_JACCARD[0]:
            m -= 1
        # m slots of k words between the first and last k words
        slots = np.sort(rng.choice((len(w) - 2 * k) // k, size=m,
                                   replace=False))
        for s in slots:
            w[k + s * k + int(rng.integers(0, k))] = "zz" + _word(rng)
        ids.append(DUP_OFFSET + int(d))
        texts.append(" ".join(w))
    return pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64),
                         "text": texts})


def embeddings_pdf(n_vecs: int, n_dups: int, dim: int,
                   seed: int) -> pd.DataFrame:
    """(vec_id, embedding float32[dim]) with ``n_dups`` planted
    near-duplicates. A duplicate of v gets id DUP_OFFSET + v and is
    c * v/|v| + sqrt(1 - c^2) * u, scaled to 2|v|, with u a seeded
    unit vector orthogonal to v: its cosine to v is c, drawn per pair
    from VEC_COSINE (to float32 rounding). Unrelated Gaussian vectors
    at this dimension stay far below a 0.95 cosine."""
    rng = np.random.default_rng(seed * 1_000_037 + 13)
    m = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    src = np.sort(rng.choice(n_vecs, size=n_dups, replace=False))
    v = m[src].astype(np.float64)
    norm = np.linalg.norm(v, axis=1, keepdims=True)
    vh = v / norm
    u = rng.standard_normal(v.shape)
    u -= (u * vh).sum(axis=1, keepdims=True) * vh
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    c = rng.uniform(*VEC_COSINE, size=(n_dups, 1))
    dup = (c * vh + np.sqrt(1 - c * c) * u) * 2 * norm
    vecs = np.concatenate([m, dup.astype(np.float32)])
    ids = np.concatenate([np.arange(n_vecs, dtype=np.int64),
                          DUP_OFFSET + src.astype(np.int64)])
    return pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})


def _word(rng) -> str:
    n = int(rng.integers(3, 9))
    return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))
