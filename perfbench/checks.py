"""Checkers made apart from the engine, and the percentile code.

Nothing here imports the engine: each check recomputes its answer from
the generated inputs, the stored bytes or DuckDB.
"""

from __future__ import annotations

import base64
import datetime as dt
import decimal
import json
import math
import struct


class CheckFailed(AssertionError):
    """An output of the engine disagrees with the independent answer."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


# -- byte path -------------------------------------------------------------------


def decode_stored_chunk(obj: bytes, manifest_json: bytes, chunk_id: int, private_key) -> bytes:
    """Decode one chunk of a stored ``.log`` object straight from the
    manifest document: unwrap the data key with RSA-OAEP/SHA-512, split
    the object by the manifest's transformed chunk sizes, AES-256-GCM
    decrypt (12-byte IV prefix, manifest AAD) and zstd-decompress (4-byte
    big-endian original size prefix). Raises on any tampering."""
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import padding
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM
    import pyarrow as pa

    doc = json.loads(manifest_json)
    index = doc["chunkIndex"]
    require(index["type"] == "variable", "compressed segment without a variable index")
    sizes = index["transformedChunks"]
    start = sum(sizes[:chunk_id])
    raw = obj[start : start + sizes[chunk_id]]
    enc = doc["encryption"]
    _kek, _, wrapped = enc["dataKey"].partition(":")
    pad = padding.OAEP(
        mgf=padding.MGF1(algorithm=hashes.SHA512()), algorithm=hashes.SHA512(), label=None
    )
    dek = private_key.decrypt(base64.b64decode(wrapped), pad)
    plain = AESGCM(dek).decrypt(raw[:12], raw[12:], base64.b64decode(enc["aad"]))
    (size,) = struct.unpack(">I", plain[:4])
    if size == 0:
        return b""
    return pa.Codec("zstd").decompress(plain[4:], decompressed_size=size, asbytes=True)


# -- table mode ------------------------------------------------------------------


def mor_window_expectation(
    con, events_path: str, lo: int, hi: int, delete_mod: tuple, deleted_types: list[str]
) -> list[tuple]:
    """The rows a merge-on-read read of offsets ``[lo, hi]`` must return:
    ``(offset, event_type, user_id)`` of every event in the window, minus
    rows matching ``offset % m == r`` and rows whose type was deleted."""
    m, r = delete_mod
    where = f"event_id BETWEEN {int(lo)} AND {int(hi)} AND event_id % {int(m)} <> {int(r)}"
    if deleted_types:
        types = ", ".join("'" + t.replace("'", "''") + "'" for t in deleted_types)
        where += f" AND event_type NOT IN ({types})"
    return con.execute(
        f"SELECT event_id, event_type, user_id FROM read_parquet('{events_path}') "
        f"WHERE {where} ORDER BY event_id"
    ).fetchall()


# -- curation --------------------------------------------------------------------


def canon(v) -> str:
    """Stringify one result cell with no cross-type normalization: a
    Decimal and an equal float stringify differently."""
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return "1" if v else "0"
    return str(v)


def canon_frame(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        tuple(canon(v) for v in row) for row in df[cols].itertuples(index=False, name=None)
    )


def same_frames(name: str, got, want) -> None:
    """Column names, row count and order-insensitive cell values."""
    require(
        sorted(got.columns) == sorted(want.columns),
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}",
    )
    require(len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}")
    g, w = canon_frame(got), canon_frame(want)
    if g != w:
        diffs = [(a, b) for a, b in zip(g, w) if a != b][:3]
        raise CheckFailed(f"{name}: values differ, first: {diffs}")
