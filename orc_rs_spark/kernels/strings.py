"""String column codecs over Arrow buffers: direct, sorted dictionary, FSST.

Parity targets: direct string = LENGTH stream + concatenated bytes
(/root/reference/src/column_reader/binary_reader.rs:79-152); dictionary =
index stream + DICTIONARY_DATA + LENGTH
(/root/reference/src/column_reader/binary_reader.rs:154-230), with the
symbol table SORTED as the ORC spec requires (the reference reads order
as-given; we sort on encode). FSST (absent from the reference) compresses
the concatenated byte payloads.

All operations are Arrow-buffer/NumPy level: lengths move through RLEv2,
payload bytes are sliced zero-copy from the Arrow offsets buffer.

Layouts (lengths varint-framed so streams self-delimit):
- direct:  varint(len(len_stream)) + rlev2(lengths,unsigned) + [fsst] payload
- dict:    varint(n_dict) + varint(len(dict_len_stream)) + rlev2(dict lengths)
           + varint(len(dict_payload)) + [fsst] dict payload
           + rlev2(indices, unsigned)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from orc_rs_spark.kernels.fsst import fsst_decode, fsst_encode
from orc_rs_spark.kernels.rlev2 import rlev2_decode, rlev2_encode
from orc_rs_spark.kernels.varint import uvarint, varint_decode


def arrow_string_views(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(absolute starts, lengths, uint8 data buffer VIEW) of a
    string/binary array — no payload copy (unlike
    :func:`arrow_string_parts`, which materializes the bytes)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odt = np.int64
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        odt = np.int32
    else:
        raise TypeError(f"not a string/binary array: {t}")
    offsets = np.frombuffer(arr.buffers()[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    dbuf = arr.buffers()[2]
    data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else np.empty(0, np.uint8)
    return offsets[:-1].astype(np.int64), np.diff(offsets).astype(np.int64), data


def arrow_string_parts(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """(lengths int64 array, concatenated utf8 bytes) from a string array;
    copies only the array's own slice of the payload."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    starts, lengths, data = arrow_string_views(arr)
    if arr.null_count:
        raise ValueError("null strings not supported in encode path")
    if not len(arr):
        return lengths, b""
    return lengths, data[starts[0] : starts[-1] + lengths[-1]].tobytes()


def build_string_array(lengths: np.ndarray, payload: bytes) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if offsets[-1] <= 2**31 - 1:
        return pa.Array.from_buffers(
            pa.utf8(),
            len(lengths),
            [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(payload)],
        )
    return pa.Array.from_buffers(
        pa.large_utf8(), len(lengths), [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(payload)]
    )


def string_direct_encode(arr: pa.Array, use_fsst: bool = False) -> bytes:
    lengths, payload = arrow_string_parts(arr)
    if use_fsst:
        payload = fsst_encode(payload, rounds=2)
    len_stream = rlev2_encode(lengths, signed=False)
    return uvarint(len(len_stream)) + len_stream + payload


def string_direct_decode(buf: bytes, count: int, use_fsst: bool = False) -> pa.Array:
    b = np.frombuffer(buf, dtype=np.uint8)
    hdr, used = varint_decode(b, 1)
    len_len = int(hdr[0])
    lengths = rlev2_decode(b[used : used + len_len], count, signed=False)
    payload = bytes(b[used + len_len :].tobytes())
    if use_fsst:
        payload = fsst_decode(payload)
    return build_string_array(lengths, payload)


def string_dict_encode(arr: pa.Array, use_fsst: bool = False) -> bytes:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    de = arr.dictionary_encode()
    dict_arr = de.dictionary
    indices = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    # sort the symbol table (UTF-8 byte order == code-point order)
    symbols = dict_arr.to_pylist()
    order = np.argsort(np.array(symbols, dtype=object), kind="stable")
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    sorted_dict = dict_arr.take(pa.array(order))
    sorted_idx = rank[indices]
    d_lengths, d_payload = arrow_string_parts(sorted_dict)
    if use_fsst:
        d_payload = fsst_encode(d_payload, rounds=2)
    dl_stream = rlev2_encode(d_lengths, signed=False)
    idx_stream = rlev2_encode(sorted_idx, signed=False)
    return (
        uvarint(len(d_lengths))
        + uvarint(len(dl_stream))
        + dl_stream
        + uvarint(len(d_payload))
        + d_payload
        + idx_stream
    )


def string_dict_decode(buf: bytes, count: int, use_fsst: bool = False) -> pa.Array:
    b = np.frombuffer(buf, dtype=np.uint8)
    hdr, used = varint_decode(b, 2)
    n_dict, dl_len = int(hdr[0]), int(hdr[1])
    pos = used
    d_lengths = rlev2_decode(b[pos : pos + dl_len], n_dict, signed=False)
    pos += dl_len
    hdr, used = varint_decode(b[pos:], 1)
    dp_len = int(hdr[0])
    pos += used
    d_payload = bytes(b[pos : pos + dp_len].tobytes())
    pos += dp_len
    if use_fsst:
        d_payload = fsst_decode(d_payload)
    idx = rlev2_decode(b[pos:], count, signed=False)
    dict_arr = build_string_array(d_lengths, d_payload)
    return dict_arr.take(pa.array(idx))
