"""Spectral k-means kernels, pure numpy (no sklearn in this container).

Reimplements the reference's clustering step
(/root/reference/pyshepseg/shepseg.py:252-449) with a plain Lloyd
iteration. The deterministic path used by the reference's own test
suite (``fixedKMeansInit=True`` → diagonal initial centres, single
run; shepseg.py:308-310,364-397) is reproduced exactly up to Lloyd
convergence; the nondeterministic k-means++/n_init=5 default is
deliberately NOT reproduced (it is nondeterministic in the reference
too — SURVEY.md §7 hard-part 2).

In the Spark pipeline the fit runs once on the driver over a global
stride sample (tiling.py:196-210 semantics via DataFrame sample) and
the (k, nbands) centre matrix is broadcast to every tile kernel — the
cross-tile consistency device (tiling.py:13-16).
"""

from __future__ import annotations

import numpy as np

# float64 elements in one (block, k, nbands) distance temporary
DIST_BLOCK_ELEMS = 1 << 18


def diagonal_cluster_centres(x_sample, num_clusters):
    """Evenly spaced centres along the diagonal of the data bounding
    box, end points one step in from the corners (shepseg.py:364-397).

    Like the reference we keep the sample's dtype for the initial
    centres (integer truncation included), then Lloyd runs in float64.
    """
    band_min = x_sample.min(axis=0)
    band_max = x_sample.max(axis=0)
    step = (band_max - band_min) / (num_clusters + 1)
    idx = np.arange(1, num_clusters + 1)[:, None]
    return (band_min[None, :] + idx * step).astype(x_sample.dtype)


def lloyd_kmeans(x, init_centres, max_iter=300, tol=1e-6):
    """Plain Lloyd k-means from fixed initial centres (deterministic).
    An empty cluster's centre moves onto the farthest sample, as in
    sklearn.

    The nearest-centre step runs once per distinct sample row and is
    gathered back to sample order: a raster sample repeats a few
    spectra many times, and a row's distances do not depend on the
    other rows, so the centres are bitwise those of a per-row loop.
    Relocation, convergence and the centre update still run on the
    full sample.
    """
    x = x.astype(np.float64)
    centres = init_centres.astype(np.float64).copy()
    k = centres.shape[0]
    ux, inv = np.unique(x, axis=0, return_inverse=True)
    inv = inv.reshape(-1)   # its shape varies across numpy releases
    # blocked distances: each (block, k, nbands) temporary holds at
    # most DIST_BLOCK_ELEMS float64s
    step = max(1, DIST_BLOCK_ELEMS // (k * x.shape[1]))
    prev_assign = None
    for _ in range(max_iter):
        uassign = np.empty(len(ux), dtype=np.int64)
        umindist = np.empty(len(ux), dtype=np.float64)
        for s in range(0, len(ux), step):
            blk = ux[s:s + step]
            dd = ((blk[:, None, :] - centres[None, :, :]) ** 2).sum(axis=2)
            uassign[s:s + step] = np.argmin(dd, axis=1)
            umindist[s:s + step] = dd[np.arange(len(blk)),
                                      uassign[s:s + step]]
        assign = uassign[inv]
        mindist = umindist[inv]
        # sklearn-style empty-cluster relocation: move each empty
        # cluster's centre onto a (distinct) farthest-from-centre
        # sample, so a collapsed init still finds all modes.
        counts0 = np.bincount(assign, minlength=k)
        empty = np.flatnonzero(counts0 == 0)
        if len(empty):
            far = np.argsort(-mindist, kind="stable")[:len(empty)]
            for e, f in zip(empty, far):
                centres[e] = x[f]
                assign[f] = e
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break
        prev_assign = assign
        sums = np.zeros_like(centres)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        for b in range(x.shape[1]):
            sums[:, b] = np.bincount(assign, weights=x[:, b], minlength=k)
        nonempty = counts > 0
        new_centres = centres.copy()
        new_centres[nonempty] = sums[nonempty] / counts[nonempty, None]
        shift = ((new_centres - centres) ** 2).sum()
        centres = new_centres
        if shift <= tol:
            break
    return centres


def fit_spectral_clusters(img, num_clusters, subsample_pcnt, img_null_val,
                          fixed_kmeans_init):
    """Fit k-means on a deterministic stride sample of the image
    (shepseg.py:252-314). Returns the (k, nbands) centre matrix.
    """
    nbands = img.shape[0]
    x_full = img.transpose(1, 2, 0).reshape(-1, nbands)
    if img_null_val is not None:
        x_full = x_full[(x_full != img_null_val).all(axis=1)]
    skip = int(round(100.0 / subsample_pcnt))
    x_sample = x_full[::skip]
    if not fixed_kmeans_init:
        # reference-default behaviour (seeded): k-means++ x n_init,
        # best inertia kept
        return fit_kmeans_plusplus(x_sample, num_clusters)
    return lloyd_kmeans(
        x_sample, diagonal_cluster_centres(x_sample, num_clusters))


def _inertia(x, centres):
    x = x.astype(np.float64)
    k = centres.shape[0]
    total = 0.0
    step = max(1, 4_000_000 // k)
    for s in range(0, x.shape[0], step):
        blk = x[s:s + step]
        dd = ((blk[:, None, :] - centres[None, :, :]) ** 2).sum(axis=2)
        total += dd.min(axis=1).sum()
    return total


def _kmeanspp_init(x, k, rng):
    """Standard k-means++ D^2 seeding (Arthur & Vassilvitskii 2007;
    what sklearn's default init does in the reference's
    fitSpectralClusters, shepseg.py:301-311)."""
    x = x.astype(np.float64)
    centres = np.empty((k, x.shape[1]), dtype=np.float64)
    centres[0] = x[rng.integers(len(x))]
    d2 = ((x - centres[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        total = d2.sum()
        if total <= 0:
            centres[i:] = x[rng.integers(len(x), size=k - i)]
            break
        probs = d2 / total
        centres[i] = x[rng.choice(len(x), p=probs)]
        d2 = np.minimum(d2, ((x - centres[i]) ** 2).sum(axis=1))
    return centres


def fit_kmeans_plusplus(x_sample, num_clusters, n_init=5, seed=0):
    """Reference-DEFAULT clustering behaviour as a documented option:
    sklearn's KMeans(n_clusters, n_init=5) in fitSpectralClusters
    (shepseg.py:301-311) = k-means++ seeding, ``n_init`` independent
    runs, keep the lowest-inertia result. The reference's version is
    nondeterministic (OS-seeded); this one seeds its RNG so reruns
    reproduce — same inertia class as the reference, not bitwise
    (a bitwise target cannot exist for a nondeterministic
    reference)."""
    rng = np.random.default_rng(seed)
    best, best_inertia = None, np.inf
    for _ in range(max(1, n_init)):
        c = lloyd_kmeans(x_sample,
                         _kmeanspp_init(x_sample, num_clusters, rng))
        inertia = _inertia(x_sample, c)
        if inertia < best_inertia:
            best, best_inertia = c, inertia
    return best


def fit_spectral_clusters_sample(x_sample, num_clusters,
                                 fixed_kmeans_init=True, n_init=5,
                                 seed=0):
    """Driver-side fit over an already-collected global sample
    (tiling.py:196-224 fitSpectralClustersWholeFile analogue for the
    Spark pipeline). ``x_sample`` is (n, nbands), nulls already
    removed.

    fixed_kmeans_init=True (engine default): deterministic diagonal
    init, single Lloyd run — the reference's own test-suite path,
    required for every bitwise parity target. False: the reference's
    DEFAULT k-means++/n_init path (seeded here; see
    fit_kmeans_plusplus)."""
    if fixed_kmeans_init:
        return lloyd_kmeans(
            x_sample, diagonal_cluster_centres(x_sample, num_clusters))
    return fit_kmeans_plusplus(x_sample, num_clusters,
                               n_init=n_init, seed=seed)


def apply_spectral_clusters(centres, img, img_null_val):
    """Nearest-centre label per pixel, +1 so cluster IDs start at 1;
    null pixels (any band == img_null_val) get 0 (shepseg.py:317-361).
    """
    nbands, nrows, ncols = img.shape
    x = img.transpose(1, 2, 0).reshape(-1, nbands).astype(np.float64)
    # blocked argmin to bound memory
    k = centres.shape[0]
    assign = np.empty(x.shape[0], dtype=np.int64)
    step = max(1, 8_000_000 // max(k, 1))
    c = centres.astype(np.float64)
    cc = (c ** 2).sum(axis=1)
    for s in range(0, x.shape[0], step):
        blk = x[s:s + step]
        # |x-c|^2 = |x|^2 - 2 x.c + |c|^2 ; |x|^2 constant per row
        d = blk @ c.T
        d *= -2.0
        d += cc[None, :]
        # add |x|^2 to keep distances exact (ties broken identically
        # to the naive form since the row constant shifts all entries)
        d += (blk ** 2).sum(axis=1)[:, None]
        assign[s:s + step] = np.argmin(d, axis=1)
    clusters = (assign + 1).reshape(nrows, ncols)
    if img_null_val is not None:
        clusters[(img == img_null_val).any(axis=0)] = 0
    return clusters.astype(np.uint32)


def auto_max_spectral_diff(centres, max_spectral_diff, dist_pcntile):
    """Resolve 'auto'/None maxSpectralDiff from pairwise centre
    distances (shepseg.py:400-449)."""
    if max_spectral_diff == 'auto' or max_spectral_diff is None:
        diff = centres[:, None, :] - centres[None, :, :]
        dist = np.sqrt((diff ** 2).sum(axis=2)).astype(np.float32)
        iu = np.triu_indices(centres.shape[0], k=1)
        pair = dist[iu]
        if max_spectral_diff == 'auto':
            return float(np.percentile(pair, dist_pcntile))
        return float(10.0 * pair.max())
    return float(max_spectral_diff)
