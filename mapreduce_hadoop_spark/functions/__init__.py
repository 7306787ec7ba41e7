"""Scalar-function layer: pure Column-expression functions (no UDFs).

Everything here compiles to built-in Catalyst expressions and stays inside
whole-stage codegen. See SURVEY.md §2 operators O3/O4/O9g/O13/O14/O16.
"""

from mapreduce_hadoop_spark.functions.geo import (
    is_airport_position,
    is_valid_position,
    spherical_earth_distance,
)
from mapreduce_hadoop_spark.functions.hashing import md5_long

__all__ = [
    "spherical_earth_distance",
    "is_valid_position",
    "is_airport_position",
    "md5_long",
]
