"""Vector expression helpers for embedding columns (array<float|double>).

Scoring runs as blocked numpy kernels in operators/similarity.py; this
module only normalizes the column type those kernels read.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")

