"""NumPy-vectorized codec kernels.

Every kernel is array-in/bytes-out (encode) or bytes-in/array-out (decode),
operating on whole chunks at once — the "SIMD" the reference left as a TODO
(/root/reference/src/encoding/rlev2.rs:98) is NumPy vectorization here.
"""

from orc_rs_spark.kernels.zigzag import zigzag_encode, zigzag_decode
from orc_rs_spark.kernels.varint import varint_encode, varint_decode
from orc_rs_spark.kernels.bitpack import bitpack, bitunpack, closest_direct_width

__all__ = [
    "zigzag_encode",
    "zigzag_decode",
    "varint_encode",
    "varint_decode",
    "bitpack",
    "bitunpack",
    "closest_direct_width",
]
