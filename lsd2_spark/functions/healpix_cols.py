"""HEALPix as Spark columns.

The reference calls healpy inside every Dask kernel (e.g.
hipscat/dask_utils.py:67, 96, 122).  Two forms of the same published
ang2pix algorithm live here, property-tested equal on 200k random and
edge points:

- ``ang2pix_udf``: an Arrow-batched pandas UDF over ``healpix.ang2pix``.
  Every engine call site that pixelizes raw coordinates uses it:
  ingest (its planning histogram, then order 19 on the write), append
  (new rows only, at order 19), cross-match of raw DataFrames
  (``crossmatch_dataframes``, q21), margins and the sky histogram.
- ``ang2pix_native``: the same arithmetic and bit interleave as a pure
  Column expression, evaluated in the JVM.  No call site uses it: its
  ~80-node expression tree costs more in codegen than it saves in
  compute at the sizes measured (see its docstring; one catalog
  cross-match took 14.4 → 19.2 s of CPU with it in place of the UDF).

Rows already in a catalog are not pixelized by either: their pixel at
any order up to 19 is a shift of the stored ``_ID``
(``catalog.pixel_of_index``), which cross-match, append, delete,
rebalance and fsck use.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from lsd2_spark import healpix as hpx

__all__ = ["ang2pix_udf", "ang2pix_col", "ang2pix_native"]


def _spread_bits_col(v: Column) -> Column:
    """Z-order bit spread (even positions) as Column ops — mirror of
    healpix._spread_bits."""
    m = F.lit
    v = v.bitwiseAND(m(0xFFFFFFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(m(0x0000FFFF0000FFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(m(0x00FF00FF00FF00FF))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(m(0x0F0F0F0F0F0F0F0F))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(m(0x3333333333333333))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(m(0x5555555555555555))
    return v


def ang2pix_native(order: int, ra: Column, dec: Column) -> Column:
    """(ra, dec) degrees → nested pixel at ``order``, pure Column ops.

    Same published algorithm as healpix.ang2pix (property-tested equal
    on 200k random+edge points); runs JVM-side with no Python workers.

    MEASURED TRADE-OFF: raw compute is ~3x faster than the Arrow UDF
    (1.1s vs 3.4s per 600k rows), but the ~80-node expression tree
    inflates per-stage codegen/analysis time, which dominates at
    local test scale (bench total regressed 36s → 40s when adopted
    everywhere).  Default call sites therefore use ``ang2pix_udf``;
    switch to this form for long-running cluster stages where compute
    dominates compile time.
    """
    ns = 1 << order
    z = F.sin(F.radians(dec))
    # Spark's % keeps the dividend's sign (unlike np.mod) — pmod keeps
    # negative RA in [0, 360) so tt stays in [0, 4) like the NumPy path.
    tt = F.pmod(ra, F.lit(360.0)) / 90.0  # longitude in [0, 4)

    # --- equatorial belt ---
    temp1 = ns * (tt + 0.5)
    temp2 = ns * (z * 0.75)
    jp = F.floor(temp1 - temp2).cast("long")
    jm = F.floor(temp1 + temp2).cast("long")
    ifp = F.shiftright(jp, order)
    ifm = F.shiftright(jm, order)
    face_eq = (
        F.when(ifp == ifm, ifp.bitwiseAND(F.lit(3)) + 4)
        .when(ifp < ifm, ifp.bitwiseAND(F.lit(3)))
        .otherwise(ifm.bitwiseAND(F.lit(3)) + 8)
    )
    ix_eq = jm.bitwiseAND(F.lit(ns - 1))
    iy_eq = F.lit(ns - 1) - jp.bitwiseAND(F.lit(ns - 1))

    # --- polar caps ---
    ntt = F.least(F.floor(tt).cast("long"), F.lit(3))
    tp = tt - ntt
    tmp = ns * F.sqrt(3.0 * (1.0 - F.abs(z)))
    jp_p = F.least(F.floor(tp * tmp).cast("long"), F.lit(ns - 1))
    jm_p = F.least(F.floor((1.0 - tp) * tmp).cast("long"), F.lit(ns - 1))
    north = z >= 0
    face_po = F.when(north, ntt).otherwise(ntt + 8)
    ix_po = F.when(north, F.lit(ns) - jm_p - 1).otherwise(jp_p)
    iy_po = F.when(north, F.lit(ns) - jp_p - 1).otherwise(jm_p)

    eq = F.abs(z) <= 2.0 / 3.0
    face = F.when(eq, face_eq).otherwise(face_po)
    ix = F.when(eq, ix_eq).otherwise(ix_po)
    iy = F.when(eq, iy_eq).otherwise(iy_po)

    morton = _spread_bits_col(ix).bitwiseOR(F.shiftleft(_spread_bits_col(iy), 1))
    pix = (face * F.lit(1 << (2 * order)) + morton).cast(LongType())
    # null conditions fall through CASE `otherwise` branches — gate
    # explicitly so null inputs yield null pixels, matching the UDF
    return F.when(ra.isNotNull() & dec.isNotNull(), pix).otherwise(F.lit(None))


@F.pandas_udf(LongType())
def _ang2pix_kernel(order: pd.Series, ra: pd.Series, dec: pd.Series) -> pd.Series:
    if len(order) == 0:
        return pd.Series([], dtype="Int64")
    k = int(order.iloc[0])  # constant within a call (passed as lit)
    valid = ra.notna() & dec.notna()
    if valid.all():  # no NULL coordinate: the pixels as they come
        return pd.Series(
            hpx.ang2pix(k, ra.to_numpy(dtype="float64"), dec.to_numpy(dtype="float64"))
        )
    out = pd.Series(pd.NA, index=range(len(ra)), dtype="Int64")
    if valid.any():
        out[valid] = hpx.ang2pix(
            k, ra[valid].to_numpy(dtype="float64"), dec[valid].to_numpy(dtype="float64")
        )
    return out


# same kernel, marked non-deterministic: the function is pure, but the
# marking stops the optimizer pushing inferred join-key constraints
# (IsNotNull(pix)) below the projection — which would evaluate the
# Arrow kernel twice per row, once for the pushed filter and once for
# the output (guide-§4.4 pattern, observed on both q21 assign sides)
_ang2pix_kernel_nd = _ang2pix_kernel.asNondeterministic()


def ang2pix_udf(
    order: int, ra: Column, dec: Column, deterministic: bool = True
) -> Column:
    """(ra, dec) degrees → nested HEALPix pixel at ``order``, as a Column.

    ``deterministic=False`` uses the non-deterministic-marked kernel —
    identical values, but the optimizer may not duplicate or reorder
    the evaluation; pass it when the pixel feeds a join key."""
    kern = _ang2pix_kernel if deterministic else _ang2pix_kernel_nd
    return kern(F.lit(int(order)), ra, dec)


def ang2pix_col(order: int, ra, dec) -> Column:
    if not isinstance(ra, Column):
        ra = F.col(ra)
    if not isinstance(dec, Column):
        dec = F.col(dec)
    return ang2pix_udf(order, ra, dec)
