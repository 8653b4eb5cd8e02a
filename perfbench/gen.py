"""Seeded synthetic transcripts, written to parquet without Spark.

A row-for-row NumPy re-implementation of
``filters_spark.data.transcripts.transcripts`` (same parameters, same
seeded defects, same ``xxhash64`` keys, so the same table for the same
seed).  The benchmark generates its inputs here rather than through the
program's own generator for two reasons: a change to the program cannot
change the benchmark's inputs, and set-up needs no JVM, so one run spends
its time on the job it measures.

``xxhash64`` follows Spark's ``XXH64`` (catalyst ``XxHash64Function``,
seed 42): one hash per argument, each seeded with the previous result;
``int`` arguments use ``hashInt``, ``bigint`` arguments ``hashLong`` and
strings ``hashUnsafeBytes`` over their UTF-8 bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ("system", "user", "assistant", "tool")
TOOLS = ("search", "code", "browser")
FRAGMENTS = (
    "Let me check the weather for you.",
    "caf\xe9 au lait, s'il vous pla\xeet",
    "The answer is 42, naturally.",
    "\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8\u3067\u3059",
    "Running the query now... done \U0001f600",
    "Here is the summary you asked for.",
    "\u03a3\u03af\u03c3\u03c5\u03c6\u03bf\u03c2 rolls the stone.",
    "I'll search the docs for that.",
)
#: NFD spelling (combining accents) of fragment 1
NFD_TEXT = "cafe\u0301 au lait, s'il vous plai\u0302t"

#: generator defaults of ``transcripts()``; a workload overrides some
DEFAULTS = {
    "hot_every": 97,
    "hot_size": 400,
    "dup_mod": 311,
    "gap_mod": 53,
    "bad_role_mod": 211,
    "bad_tool_mod": 223,
    "null_text_mod": 101,
    "empty_text_mod": 103,
    "long_text_mod": 107,
    "nfd_text_mod": 19,
    "crlf_text_mod": 23,
}
#: ``transcripts_baseline()``: every seeded defect switched off
BASELINE_OFF = {
    k: 10**9
    for k in (
        "dup_mod",
        "gap_mod",
        "bad_role_mod",
        "bad_tool_mod",
        "null_text_mod",
        "empty_text_mod",
        "long_text_mod",
    )
}

#: input files per table: ``spark.range`` on a 4-core session gives four
#: slices, and the duplicate rows are a second four-slice union branch
SLICES = 4

_U = np.uint64
P1 = _U(0x9E3779B185EBCA87)
P2 = _U(0xC2B2AE3D27D4EB4F)
P3 = _U(0x165667B19E3779F9)
P4 = _U(0x85EBCA77C2B2AE63)
P5 = _U(0x27D4EB2F165667C5)
SPARK_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U(33))
    h = h * P2
    h = h ^ (h >> _U(29))
    h = h * P3
    return h ^ (h >> _U(32))


def _seeds(seed, n: int) -> np.ndarray:
    if np.ndim(seed) == 0:
        return np.full(n, np.int64(seed).astype(np.uint64), dtype=np.uint64)
    return np.asarray(seed).astype(np.int64).view(np.uint64)


def hash_int(values, seed) -> np.ndarray:
    v = np.asarray(values, dtype=np.int64).astype(np.uint32).astype(np.uint64)
    h = _seeds(seed, len(v)) + P5 + _U(4)
    h = h ^ (v * P1)
    h = _rotl(h, 23) * P2 + P3
    return _fmix(h)


def hash_long(values, seed) -> np.ndarray:
    v = np.asarray(values, dtype=np.int64).view(np.uint64)
    h = _seeds(seed, len(v)) + P5 + _U(8)
    h = h ^ (_rotl(v * P2, 31) * P1)
    h = _rotl(h, 27) * P1 + P4
    return _fmix(h)


def hash_bytes(rows: np.ndarray, seed) -> np.ndarray:
    """XXH64 of equal-length byte strings (``rows``: uint8, shape
    ``(n, length)``, ``length < 32``)."""
    n, length = rows.shape
    if length >= 32:
        raise ValueError("hash_bytes handles keys shorter than 32 bytes")
    h = _seeds(seed, n) + P5 + _U(length)
    off = 0
    while off + 8 <= length:
        k = np.ascontiguousarray(rows[:, off : off + 8]).view("<u8")[:, 0]
        h = h ^ (_rotl(k * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        off += 8
    if off + 4 <= length:
        k = np.ascontiguousarray(rows[:, off : off + 4]).view("<u4")[:, 0]
        h = h ^ (k.astype(np.uint64) * P1)
        h = _rotl(h, 23) * P2 + P3
        off += 4
    while off < length:
        h = h ^ (rows[:, off].astype(np.uint64) * P5)
        h = _rotl(h, 11) * P1
        off += 1
    return _fmix(h)


def _lit_hash(seed_value: int, h: np.ndarray) -> np.ndarray:
    """Hash step for ``F.lit(v)``: an ``int`` literal when v fits 32 bits."""
    if -(2**31) <= seed_value < 2**31:
        return hash_int(np.full(len(h), seed_value), h.view(np.int64))
    return hash_long(np.full(len(h), seed_value), h.view(np.int64))


def _signed(h: np.ndarray) -> np.ndarray:
    return h.view(np.int64)


def _conv_bytes(cid: np.ndarray) -> np.ndarray:
    """UTF-8 bytes of ``format_string('conv-%010d', cid)``."""
    if len(cid) and cid.max() >= 10**10:
        raise ValueError("conv ids are formatted to 10 digits")
    out = np.empty((len(cid), 15), dtype=np.uint8)
    out[:, :5] = np.frombuffer(b"conv-", dtype=np.uint8)
    for j in range(10):
        out[:, 5 + j] = (cid // 10 ** (9 - j)) % 10 + 48
    return out


def conv_ids(n_convs: int) -> np.ndarray:
    return np.array([f"conv-{i:010d}" for i in range(n_convs)], dtype=object)


def conv_buckets(n_convs: int, n_buckets: int) -> np.ndarray:
    """``pmod(xxhash64(conv_id), n_buckets)`` per conversation: the
    suite's default bucket of each ``conv-%010d`` id."""
    h = hash_bytes(_conv_bytes(np.arange(n_convs, dtype=np.int64)), SPARK_SEED)
    return np.mod(_signed(h), n_buckets)


def transcripts(n_convs: int, seed: int, **params) -> tuple[pa.Table, int]:
    """The table ``transcripts(spark, n_convs, seed, **params)`` returns,
    as one Arrow table with the duplicate rows last, and the number of
    rows before them."""
    p = {**DEFAULTS, **params}
    cid = np.arange(n_convs, dtype=np.int64)
    cbytes = _conv_bytes(cid)
    size_hash = _signed(_lit_hash(seed, hash_long(cid, SPARK_SEED)))
    size = np.where(
        cid % p["hot_every"] == p["hot_every"] - 1,
        p["hot_size"],
        4 + np.mod(size_hash, 13),
    )
    row_cid = np.repeat(cid, size)
    starts = np.cumsum(size) - size
    turn = np.arange(len(row_cid), dtype=np.int64) - np.repeat(starts, size)

    conv_hash = hash_bytes(cbytes, SPARK_SEED)  # xxhash64 state after conv_id
    row_conv_hash = conv_hash[row_cid]
    # ``turns`` carries turn_idx as bigint (sequence over a bigint size)
    k = _signed(_lit_hash(seed, hash_long(turn, row_conv_hash.view(np.int64))))

    def pm(m: int) -> np.ndarray:
        return np.mod(k, m)

    role_idx = np.select(
        [turn == 0, pm(p["bad_role_mod"]) == 5, turn % 2 == 1, pm(11) < 3],
        [0, 4, 1, 3],
        default=2,
    )
    role_names = np.array(ROLES + ("robot",), dtype=object)
    role = role_names[role_idx]

    tool_names = np.array(TOOLS + ("laser", None), dtype=object)
    tool_idx = np.select(
        [pm(p["bad_tool_mod"]) == 7, (role_idx == 3) | (pm(29) < 3)],
        [3, pm(3)],
        default=4,
    )
    tool = tool_names[tool_idx]

    frag = np.mod(_signed(hash_long(k, SPARK_SEED)), len(FRAGMENTS))
    pad = " " + "pad " * 2000
    text_kind = np.select(
        [
            pm(p["null_text_mod"]) == 11,
            pm(p["empty_text_mod"]) == 12,
            pm(p["long_text_mod"]) == 13,
            pm(p["nfd_text_mod"]) == 3,
            pm(p["crlf_text_mod"]) == 4,
        ],
        [0, 1, 2, 3, 4],
        default=5,
    )
    variants = np.array(
        [[None, "", f + pad, NFD_TEXT, f + "\r\nsecond line\r", f] for f in FRAGMENTS],
        dtype=object,
    )
    text = variants[frag, text_kind]

    secs = row_cid * 3600 + turn * 30
    ts = np.datetime64("2026-01-01T00:00:00", "us") + secs.astype("timedelta64[s]")

    turn32 = turn.astype(np.int32)
    # after the select, turn_idx is an int
    dup_h = _signed(_lit_hash(seed + 1, hash_int(turn32, row_conv_hash.view(np.int64))))
    is_dup = np.mod(dup_h, p["dup_mod"]) == 17
    gap_conv = np.mod(_signed(_lit_hash(seed + 2, conv_hash)), p["gap_mod"]) == 9
    keep = ~(gap_conv[row_cid] & (turn32 == 2))

    order = np.concatenate([np.flatnonzero(keep), np.flatnonzero(is_dup & keep)])
    table = pa.table(
        {
            "conv_id": pa.array(conv_ids(n_convs)[row_cid[order]], pa.string()),
            "turn_idx": pa.array(turn32[order], pa.int32()),
            "role": pa.array(role[order], pa.string()),
            "text": pa.array(text[order], pa.string()),
            "tool": pa.array(tool[order], pa.string()),
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
        }
    )
    return table, int(keep.sum())


def write_table(table: pa.Table, path: str, n_main: int) -> None:
    """Write ``table`` as 2×SLICES parquet files: the first ``n_main``
    rows (the main branch) in SLICES contiguous files, the duplicate rows
    after them in SLICES more — the file layout Spark's writer gives the
    generator's union on a 4-core session."""
    os.makedirs(path, exist_ok=True)
    part = 0
    for lo, hi in ((0, n_main), (n_main, table.num_rows)):
        cuts = np.linspace(lo, hi, SLICES + 1).astype(int)
        for a, b in zip(cuts[:-1], cuts[1:]):
            pq.write_table(
                table.slice(a, b - a), os.path.join(path, f"part-{part:05d}.parquet")
            )
            part += 1


def write_transcripts(path: str, n_convs: int, seed: int, **params) -> int:
    """Generate and write one transcripts table; returns its row count."""
    table, n_main = transcripts(n_convs, seed, **params)
    write_table(table, path, n_main)
    return table.num_rows


def write_buckets(path: str, n_convs: int, n_buckets: int) -> None:
    """Side table ``(conv_id, bucket)`` for the oracle's per-bucket
    verdicts; the job never reads it."""
    pq.write_table(
        pa.table(
            {
                "conv_id": pa.array(conv_ids(n_convs), pa.string()),
                "bucket": pa.array(conv_buckets(n_convs, n_buckets), pa.int32()),
            }
        ),
        path,
    )
