"""In-process reference harness: import /root/reference/pyshepseg as
pure Python (numba/sklearn/osgeo/scipy stubbed) and replay its
SEQUENTIAL tiled stitch over the engine's own per-tile kernel
outputs.

Two consumers:
- tests/test_reference_parity.py — the bitwise parity suite;
- __spark_entry__ oracle generation — the flagship segmentation
  queries get a DuckDB VALUES-literal oracle derived from the
  reference's sequential recode path (tiling.py:950-1064) run
  driver-side, so the driver's hash gate cross-checks the engine's
  order-independent distributed stitch against the reference's
  order-dependent chaining end to end.

The per-tile kernels here are the engine's own (bitwise-equal to the
reference's doShepherdSegmentation — test_reference_parity.py::
test_kernel_bitwise_matches_reference); the stitch is the
REFERENCE'S code, so the replay is an independent construction of
the final mosaic, not a re-run of the Spark plan.
"""

from __future__ import annotations

import importlib.machinery
import sys
import types as pytypes
from types import SimpleNamespace

import numpy as np

REFERENCE_PATH = "/root/reference"


def _mk_module(name):
    m = pytypes.ModuleType(name)
    m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    return m


def install_reference_stubs():
    """Minimal numba + sklearn + osgeo + scipy stand-ins so
    /root/reference/pyshepseg imports and runs as plain Python (the
    container has none of those libraries; the reference's jitted
    functions execute unjitted — semantically identical, just
    slow). Returns the names it put in sys.modules (none when numba
    is already there)."""
    if "numba" in sys.modules:
        return []
    before = set(sys.modules)

    numba = _mk_module("numba")

    def njit(*args, **kw):
        if args and callable(args[0]):
            return args[0]
        return lambda f: f

    numba.njit = njit

    # numpy-scalar-backed type stubs: callable as casts
    # (types.uint32(x)), usable as numpy dtypes, and sliceable in
    # jitclass specs (types.uint32[:, :])
    def _scalar(npty):
        return type(npty.__name__, (npty,), {
            "__class_getitem__": classmethod(lambda c, i: c)})

    tmod = _mk_module("numba.core.types")
    for name, npty in [("uint32", np.uint32), ("uint8", np.uint8),
                       ("int32", np.int32), ("int64", np.int64),
                       ("float32", np.float32),
                       ("float64", np.float64)]:
        setattr(tmod, name, _scalar(npty))
    tmod.boolean = _scalar(np.bool_)
    core = _mk_module("numba.core")
    core.types = tmod
    numba.typeof = lambda x: None

    typed = _mk_module("numba.typed")

    class Dict(dict):
        _dict_type = None

        @staticmethod
        def empty(key_type=None, value_type=None):
            return Dict()

    typed.Dict = Dict
    typed.List = list

    exp = _mk_module("numba.experimental")

    def jitclass(spec=None):
        def deco(cls):
            cls.class_type = SimpleNamespace(instance_type=None)
            return cls
        if isinstance(spec, type):
            return deco(spec)
        return deco

    exp.jitclass = jitclass
    numba.core = core
    numba.typed = typed
    numba.experimental = exp
    sys.modules.update({
        "numba": numba, "numba.core": core,
        "numba.core.types": tmod, "numba.typed": typed,
        "numba.experimental": exp})

    sk = _mk_module("sklearn")
    skc = _mk_module("sklearn.cluster")

    class KMeans:  # pragma: no cover - fit path never used here
        def __init__(self, **kw):
            raise RuntimeError("sklearn stub: fit path not used")

    skc.KMeans = KMeans
    sk.cluster = skc
    sys.modules.update({"sklearn": sk, "sklearn.cluster": skc})

    # osgeo / scipy stand-ins (import-time only; nothing here touches
    # GDAL rasters)
    class _Any:
        def __call__(self, *a, **kw):
            return _Any()

        def __getattr__(self, n):
            return _Any()

    def _anymod(name):
        m = _mk_module(name)
        m.__getattr__ = lambda n: _Any()
        return m

    osgeo = _anymod("osgeo")
    for sub in ["gdal", "osr", "gdal_array"]:
        sm = _anymod(f"osgeo.{sub}")
        setattr(osgeo, sub, sm)
        sys.modules[f"osgeo.{sub}"] = sm
    sys.modules["osgeo"] = osgeo
    scipy = _anymod("scipy")
    scipy.stats = _anymod("scipy.stats")

    def _mode(a, axis=0, **kw):
        """Real replacement for scipy.stats.mode (used by the
        reference stitch): most frequent value, ties -> smallest
        (np.unique returns sorted values; argmax takes the first)."""
        v, c = np.unique(np.asarray(a).ravel(), return_counts=True)
        return SimpleNamespace(mode=v[np.argmax(c)],
                               count=int(c.max()))

    scipy.stats.mode = _mode
    sys.modules["scipy"] = scipy
    sys.modules["scipy.stats"] = scipy.stats
    return sorted(set(sys.modules) - before)


def import_reference():
    """Install the stubs and return (pyshepseg.shepseg,
    pyshepseg.tiling) from REFERENCE_PATH. When the reference does
    not import, the stubs leave sys.modules again (later imports of
    numba, scipy or osgeo must not find the stand-ins) and one
    ImportError names REFERENCE_PATH."""
    stubs = install_reference_stubs()
    if REFERENCE_PATH not in sys.path:
        sys.path.insert(0, REFERENCE_PATH)
    try:
        import pyshepseg.shepseg as refshepseg
        import pyshepseg.tiling as reftiling
    except ImportError as e:
        for name in stubs:
            sys.modules.pop(name, None)
        raise ImportError(
            f"reference pyshepseg not importable from REFERENCE_PATH="
            f"{REFERENCE_PATH!r}: {e}") from e
    return refshepseg, reftiling


def reference_stitched_mosaic(img, k, cfg):
    """Reference-sequential tiled segmentation of one decoded image
    (bands, h, w): the engine's own per-tile Shepherd kernel (bitwise
    == reference per the parity suite) + the REFERENCE'S sequential
    recode chain (SegmentationConcurrencyMgr.recodeSharedSegments +
    relabelSegments, /root/reference/pyshepseg/tiling.py:950-1064,
    1128-1306). Returns the final (h, w) int64 segment mosaic."""
    from .kernels.shepherd import do_shepherd_segmentation
    from .operators.tiling import fit_image_centres, tile_grid

    _, reftiling = import_reference()
    Mgr = reftiling.SegmentationConcurrencyMgr

    h, w = img.shape[1], img.shape[2]
    overlap = cfg.overlap
    margin = overlap // 2
    centres = fit_image_centres(img, k, cfg)
    tiles, ntc, ntr = tile_grid(w, h, cfg.tile_size, cfg.overlap)
    seg_by_pos = {}
    for (tc, tr, xp, yp, xs, ys) in tiles:
        sub = np.ascontiguousarray(img[:, yp:yp + ys, xp:xp + xs])
        res = do_shepherd_segmentation(
            sub,
            min_segment_size=cfg.min_segment_size,
            max_spectral_diff=cfg.max_spectral_diff,
            img_null_val=cfg.img_null_val,
            four_connected=cfg.four_connected,
            centres=centres,
            spect_dist_pcntile=cfg.spect_dist_pcntile,
            max_clump_size=cfg.max_clump_size)
        seg_by_pos[(tc, tr)] = (res.segimg.astype(np.uint32),
                                xp, yp, xs, ys)

    mosaic = np.zeros((h, w), dtype=np.uint32)
    cache = {}
    maxSegId = 0
    for trow in range(ntr):
        for tcol in range(ntc):
            seg, xp, yp, xs, ys = seg_by_pos[(tcol, trow)]
            tileData = seg.copy()
            top = margin if trow > 0 else 0
            bottom = ys - margin if trow < ntr - 1 else ys
            left = margin if tcol > 0 else 0
            right = xs - margin if tcol < ntc - 1 else xs
            recodeDict = {}
            if trow > 0:
                Mgr.recodeSharedSegments(
                    tileData, tileData[:overlap, :],
                    cache[(tcol, trow - 1, "bottom")],
                    reftiling.HORIZONTAL, recodeDict)
            if tcol > 0:
                Mgr.recodeSharedSegments(
                    tileData, tileData[:, :overlap],
                    cache[(tcol - 1, trow, "right")],
                    reftiling.VERTICAL, recodeDict)
            newTile, _ = Mgr.relabelSegments(
                tileData, recodeDict, maxSegId,
                top, bottom, left, right)
            trimmed = newTile[top:bottom, left:right]
            mosaic[yp + top:yp + bottom, xp + left:xp + right] = trimmed
            cache[(tcol, trow, "right")] = newTile[:, -overlap:]
            cache[(tcol, trow, "bottom")] = newTile[-overlap:, :]
            maxSegId = max(maxSegId, int(trimmed.max()))
    return mosaic.astype(np.int64)


def reference_fixture_mosaics(n_images, size, cfg, seed=42):
    """Replay :func:`reference_stitched_mosaic` over the seeded
    synthetic fixture (sources.imagegen — the same table every
    flagship query builds). Returns [(image_id, img, mosaic)] with
    img the decoded (bands, h, w) pixel array."""
    from .sources.codec import decode_image
    from .sources.imagegen import generate_images_pdf

    pdf = generate_images_pdf(n_images, size=size, seed=seed)
    out = []
    for row in pdf.itertuples(index=False):
        img = decode_image(row.bytes, row.fmt, row.w, row.h)
        k = int(row.caption.split(": ")[1].split()[0])
        out.append((row.image_id, img,
                    reference_stitched_mosaic(img, k, cfg)))
    return out
