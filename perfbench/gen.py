"""Seeded token-table generator and the order-independent checksum.

The benchmark owns its inputs so that no change to the library (its
`datagen` module included) can change a workload. One process, pure
numpy/pyarrow. The distribution follows FIXTURES.md: lognormal document
lengths, Zipf tokens over a GPT-2-sized vocabulary and 12 sources whose
head holds about 49 % of the rows. Rows come out in doc_id order.

The checksum of a row is ``pmod(xxhash64(doc_id, tokens), 2^31 - 1)``,
exactly what Spark computes for ``F.pmod(F.xxhash64("doc_id", "tokens"),
F.lit(2147483647))``; a table's checksum is the sum over its rows. Each
term is below 2^31, so the sum cannot overflow a 64-bit long below 2^32
rows (a plain ``sum(xxhash64(...))`` overflows, which is an error under
Spark's ANSI mode).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

VOCAB = 50_257
ZIPF_A = 1.2
LEN_MU, LEN_SIGMA, LEN_MAX = 5.5, 1.0, 8192
SOURCES = ("web", "books", "arxiv", "wiki", "code", "news", "forum",
           "social", "legal", "patents", "papers", "reviews")
_SW = 1.0 / np.arange(1, len(SOURCES) + 1) ** 1.5
SOURCE_WEIGHTS = _SW / _SW.sum()          # head source ~ 49 % of rows
MODULUS = 2_147_483_647                   # 2^31 - 1
HASH_SEED = 42                            # Spark's xxhash64 seed
ID_WIDTH = 9

ARROW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("tokens", pa.list_(pa.int32()), nullable=False),
    pa.field("n_tok", pa.int32(), nullable=False),
    pa.field("source", pa.string(), nullable=False),
])

_TOKEN_CDF = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_A)
_TOKEN_CDF /= _TOKEN_CDF[-1]

# -- xxhash64, vectorised over rows, bit-compatible with Spark's XXH64 -------
_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def xxh64_int(values: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """Spark's ``XXH64.hashInt`` for each (int32 value, uint64 seed)."""
    h = seeds + (_P5 + np.uint64(4))
    h = h ^ (values.astype(np.int32).view(np.uint32).astype(np.uint64) * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def xxh64_bytes(rows: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """Spark's ``XXH64.hashUnsafeBytes`` for each row of an (n, L) uint8
    matrix of equal-length byte strings, L < 32."""
    n, length = rows.shape
    if length >= 32:
        raise ValueError("only strings shorter than 32 bytes are supported")
    rows = np.ascontiguousarray(rows, dtype=np.uint8)
    h = seeds + _P5 + np.uint64(length)
    off = 0
    while off + 8 <= length:
        k = rows[:, off:off + 8].copy().view("<u8").reshape(n)
        h = h ^ (_rotl(k * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        off += 8
    if off + 4 <= length:
        k = rows[:, off:off + 4].copy().view("<u4").reshape(n)
        h = h ^ (k.astype(np.uint64) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        off += 4
    while off < length:
        h = h ^ (rows[:, off].astype(np.uint64) * _P5)
        h = _rotl(h, 11) * _P1
        off += 1
    return _fmix(h)


def row_hashes(id_bytes: np.ndarray, lens: np.ndarray,
               flat: np.ndarray) -> np.ndarray:
    """Spark's ``xxhash64(doc_id, tokens)`` per row, as int64.

    Spark folds an array column element by element into the running
    hash, so the tokens of a row are hashed in order, seeded by the hash
    of its doc_id. Rows are processed longest first, so the rows still
    active at token position j are a prefix of that order."""
    n = len(lens)
    with np.errstate(over="ignore"):
        h = xxh64_bytes(id_bytes, np.full(n, HASH_SEED, dtype=np.uint64))
        order = np.argsort(-lens, kind="stable")
        starts = (np.concatenate([[0], np.cumsum(lens)[:-1]])[order]
                  .astype(np.int64))
        hs = h[order]
        active = np.searchsorted(-lens[order], 0, side="left")
        lens_sorted = lens[order]
        for j in range(int(lens_sorted[0]) if n else 0):
            while active and lens_sorted[active - 1] <= j:
                active -= 1
            hs[:active] = xxh64_int(flat[starts[:active] + j], hs[:active])
        h[order] = hs
    return h.view(np.int64)


def row_checksums(id_bytes: np.ndarray, lens: np.ndarray,
                  flat: np.ndarray) -> np.ndarray:
    """``pmod(xxhash64(doc_id, tokens), 2^31-1)`` per row, as int64."""
    return np.mod(row_hashes(id_bytes, lens, flat), MODULUS)


# -- the generator -----------------------------------------------------------
@dataclass
class TokenTable:
    """A generated table plus everything needed to verify a copy of it."""
    table: pa.Table
    n_tokens: int
    row_sums: np.ndarray                 # per-row checksum, doc_id order
    checksum: int                        # sum of row_sums
    by_source: dict[str, tuple[int, int]]   # source -> (rows, checksum)

    @property
    def n_docs(self) -> int:
        return self.table.num_rows


def doc_id(i: int) -> str:
    return f"doc-{i:0{ID_WIDTH}d}"


def generate(n_docs: int, seed: int) -> TokenTable:
    """``n_docs`` rows in doc_id order; the same seed gives the same bytes."""
    rng = np.random.default_rng(seed)
    lens = np.clip(np.rint(rng.lognormal(LEN_MU, LEN_SIGMA, n_docs)),
                   1, LEN_MAX).astype(np.int64)
    src_idx = rng.choice(len(SOURCES), n_docs, p=SOURCE_WEIGHTS)
    flat = np.searchsorted(_TOKEN_CDF, rng.random(int(lens.sum())),
                           side="right").astype(np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])

    id_text = np.char.add("doc-", np.char.zfill(
        np.arange(n_docs).astype(str), ID_WIDTH))
    id_bytes = (np.frombuffer(id_text.astype(f"S{4 + ID_WIDTH}").tobytes(),
                              dtype=np.uint8).reshape(n_docs, 4 + ID_WIDTH))
    sums = row_checksums(id_bytes, lens, flat)

    sources = np.array(SOURCES, dtype=object)[src_idx]
    table = pa.Table.from_arrays(
        [pa.array(id_text.tolist(), pa.string()),
         pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
         pa.array(lens.astype(np.int32)),
         pa.array(sources.tolist(), pa.string())],
        schema=ARROW_SCHEMA)
    by_source = {}
    for k, name in enumerate(SOURCES):
        m = src_idx == k
        by_source[name] = (int(m.sum()), int(sums[m].sum()))
    return TokenTable(table, int(lens.sum()), sums, int(sums.sum()),
                      by_source)
