"""HEALPix as Spark columns.

The reference calls healpy inside every Dask kernel (e.g.
hipscat/dask_utils.py:67, 96, 122).  Here raw coordinates are
pixelized by ``ang2pix_udf``, an Arrow-batched pandas UDF over
``healpix.ang2pix``.  Its call sites: ingest (its planning histogram,
then order 19 on the write), append (new rows only, at order 19),
cross-match of raw DataFrames (``crossmatch_dataframes``, q21), the
margins of ingest's raw input, and the sky histogram of a raw frame
(``sky_histogram``).

Rows already in a catalog are not pixelized again: their pixel at any
order up to 19 is a shift of the stored ``_ID``
(``catalog.pixel_of_index``), which cross-match, append, delete,
rebalance, the margin export, ``sky_map`` and fsck use.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from lsd2_spark import healpix as hpx

__all__ = ["ang2pix_udf"]


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

