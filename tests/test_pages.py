"""HQ-page flag parsing (F6, recode.py:657-675) and downsample (C23)."""

import numpy as np

from archive_pdf_tools_spark.kernels.pages import (
    downsample_box, parse_hq_pages)


def test_hq_pages_reference_semantics():
    # 1-indexed positives, negatives from the end, out-of-range ignored.
    assert parse_hq_pages("1,2", 4) == [True, True, False, False]
    assert parse_hq_pages("-1,-2", 4) == [False, False, True, True]
    # the reference's docstring case: 1,2,3,4,-4,-3,-2,-1 on a 3-pager
    assert parse_hq_pages("1,2,3,4,-4,-3,-2,-1", 3) == [True, True, True]
    assert parse_hq_pages(None, 3) == [False, False, False]
    # 0 stays index 0 (only i > 0 decrements)
    assert parse_hq_pages("0", 3) == [True, False, False]


def test_downsample_exact_factor():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    out, warned = downsample_box(img, 2)
    assert not warned
    assert out.shape == (4, 4)
    # top-left 2x2 block: (0+1+8+9)//4 = 4
    assert out[0, 0] == 4


def test_downsample_rgb_and_too_small():
    img = np.full((6, 6, 3), 90, dtype=np.uint8)
    out, warned = downsample_box(img, 3)
    assert out.shape == (2, 2, 3) and not warned
    assert (out == 90).all()
    tiny = np.zeros((2, 2), dtype=np.uint8)
    out, warned = downsample_box(tiny, 3)
    assert warned and out.shape == (2, 2)   # unchanged + warning


def test_downsample_non_divisible():
    img = np.arange(70, dtype=np.uint8).reshape(7, 10)
    out, warned = downsample_box(img, 3)
    assert out.shape == (2, 3) and not warned


def test_downsample_lanczos_properties():
    """C23 LANCZOS option: dims match box sizing, constants are fixed
    points, mean preserved on smooth content, overshoot clipped."""
    import numpy as np

    from archive_pdf_tools_spark.kernels.pages import (
        downsample_box, downsample_lanczos)

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (64, 96), dtype=np.uint8)
    lz, warned = downsample_lanczos(img, 2.0)
    bx, _ = downsample_box(img, 2.0)
    assert not warned and lz.shape == bx.shape == (32, 48)

    const = np.full((40, 40), 200, dtype=np.uint8)
    out, _ = downsample_lanczos(const, 2.5)
    assert (out == 200).all()

    ramp = np.tile(np.linspace(0, 255, 96).astype(np.uint8), (64, 1))
    out, _ = downsample_lanczos(ramp, 2.0)
    assert abs(float(out.mean()) - float(ramp.mean())) < 2.0

    # sharp edge: lanczos rings but must stay clipped to uint8 range
    edge = np.zeros((32, 64), dtype=np.uint8)
    edge[:, 32:] = 255
    out, _ = downsample_lanczos(edge, 2.0)
    assert out.dtype == np.uint8

    rgb = rng.integers(0, 256, (33, 45, 3), dtype=np.uint8)
    out, _ = downsample_lanczos(rgb, 3.0)
    assert out.shape == (11, 15, 3)

    assert downsample_lanczos(np.zeros((2, 2), np.uint8), 9.0)[1] is True


def test_mrc_lanczos_downsample_mode():
    import numpy as np

    from archive_pdf_tools_spark.kernels.mrc import create_mrc_components

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (48, 64), dtype=np.uint8)
    a = create_mrc_components(img, [], bg_downsample=2.0,
                              downsample_method="box")
    b = create_mrc_components(img, [], bg_downsample=2.0,
                              downsample_method="lanczos")
    assert a.background.shape == b.background.shape
    assert not np.array_equal(a.background, b.background)  # different filter


# Bytes of every BLAS-backed output that reaches an artefact: Lanczos
# downsampling (the gray ``@`` chain and the RGB ``einsum``) over random
# shapes and factors, the sRGB ICC profile (``np.linalg`` solves), and
# the ANN blocking keys over each testdata embeddings table given as an
# argument: the IVF centroid fit, SRP signatures, the IVF cell argmax and
# ``ivf_cells``' top-``nprobe``.  The raw ``X @ C.T`` scores are left
# out: their last bits follow the GEMM kernel, the keys must not.
_BLAS_PROBE = """
import hashlib
import sys
import numpy as np
import pyarrow.parquet as pq
from archive_pdf_tools_spark.functions.similarity import (
    _assign_batches, _fit_centroids, _srp_sig_batches, _top_cells_batches,
    srp_planes)
from archive_pdf_tools_spark.kernels.iccsrgb import srgb_icc_profile
from archive_pdf_tools_spark.kernels.pages import downsample_lanczos
rng = np.random.default_rng(11)
h = hashlib.sha1()
for shape in [(97, 61), (64, 64), (211, 173), (130, 47, 3), (33, 90, 3)]:
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    for factor in (2, 3.5):
        h.update(downsample_lanczos(img, factor)[0].tobytes())
h.update(srgb_icc_profile())
for path in sys.argv[1:]:
    pdf = pq.read_table(path, columns=["vec_id", "embedding"]).to_pandas()
    C = _fit_centroids(np.array([np.asarray(v, np.float64)
                                 for v in pdf["embedding"].values]), 16, 3, 17)
    h.update(C.tobytes())
    bodies = [_srp_sig_batches(srp_planes(C.shape[1])), _assign_batches(C),
              *(_top_cells_batches(C, n) for n in (1, 2, 3))]
    for body in bodies:
        h.update(next(body(iter([pdf]))).iloc[:, -1].values.tobytes())
print(h.hexdigest())
"""


def test_blas_outputs_are_bit_stable_across_core_types():
    """The same bytes whichever GEMM kernel OpenBLAS picks for the host:
    forced to a core type without fused multiply-add (Sandybridge) and
    to two with it (Haswell, SkylakeX), as the JPEG DCT's were not before
    it stopped using BLAS.  A host without AVX-512 cannot run SkylakeX."""
    import os
    import subprocess
    import sys

    import pytest

    from test_plans import SF

    blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    if "openblas" not in blas.get("name", ""):
        pytest.skip(f"numpy is not built on OpenBLAS ({blas.get('name')})")
    with open("/proc/cpuinfo") as f:
        if "avx512f" not in f.read():
            pytest.skip("no AVX-512: OpenBLAS cannot run SkylakeX here")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tables = [os.path.join(os.path.dirname(SF), sf, "embeddings.parquet")
              for sf in ("sf0.001", "sf0.01", "sf0.1")]
    digests = {}
    for core in ("Sandybridge", "Haswell", "SkylakeX"):
        env = dict(os.environ, OPENBLAS_CORETYPE=core,
                   OPENBLAS_NUM_THREADS="1", PYTHONPATH=root)
        digests[core] = subprocess.run(
            [sys.executable, "-c", _BLAS_PROBE, *tables], env=env, check=True,
            capture_output=True, text=True, timeout=120).stdout.strip()
    assert len(set(digests.values())) == 1, digests
