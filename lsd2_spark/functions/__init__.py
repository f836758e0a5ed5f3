from lsd2_spark.functions.spherical import gc_dist, gnomonic_xy_np  # noqa: F401
from lsd2_spark.functions.healpix_cols import ang2pix_udf  # noqa: F401
