"""The three workloads: what one set-up and one op do, and how each op is
checked. Every op goes through the library's public functions only.

- ingest: ``store.encode_to_store`` of a staged table into a fresh store
  (audition, salted shuffle, codec encode, atomic commit).
- scan:   a full ``store.decode_from_store`` of a salted store, consumed
  by a JVM-side aggregate (bulk decode, Python -> JVM return).
- lookup: a point read ``decode_from_store(predicate="doc_id=...")`` on a
  colocated store cut from doc_id-ordered input (planning, zone pruning,
  per-job overhead, a single-task decode).
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow.parquet as pq

import gen

# Input sizes (documents; about 400 tokens each). Ingest is large enough
# that the shuffle and codec encode, not the fixed per-op overhead, make
# up most of an op; the store-reading workloads are kept small so that a
# run, with its set-up JVM, fits the benchmark's time budget.
INGEST_DOCS = 60_000
SCAN_DOCS = 24_000
LOOKUP_DOCS = 24_000
# Four files of similar size each become one scan split, so each
# colocated chunk covers one contiguous doc_id range and a point lookup
# keeps one chunk. Spark packs smaller files two to a split, in size
# order, and zone pruning then keeps every chunk.
STAGE_FILES = 4


class CheckFailed(Exception):
    """An op returned something other than the expected data."""


@contextmanager
def wrapped(module, name: str, around):
    """Replace ``module.name`` by ``around(original)`` for the duration.
    The library looks these functions up at call time, so a span around
    the replacement nests inside the span of the calling layer."""
    original = getattr(module, name)
    setattr(module, name, around(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def dir_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    total = files = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def checksum_cols():
    """Spark columns of the order-independent (doc_id, tokens) checksum;
    each term is below 2^31, so the sum cannot overflow a long."""
    import pyspark.sql.functions as F
    return (F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64("doc_id", "tokens"),
                         F.lit(gen.MODULUS))).alias("h"))


def check_by_source(df, data: gen.TokenTable) -> None:
    """Decode-side check: per-source row counts and checksums."""
    rows = df.groupBy("source").agg(*checksum_cols()).collect()
    got = {r["source"]: (r["n"], r["h"]) for r in rows}
    want = {s: v for s, v in data.by_source.items() if v[0]}
    if got != want:
        raise CheckFailed(f"per-source checksums differ: {got} != {want}")


class Workload:
    name = ""
    setup_uses_spark = False

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.data: gen.TokenTable | None = None
        self.store = None            # the store whose bytes a run reports
        self.stage = os.path.join(work, "stage")

    def _stage(self, n_docs: int) -> None:
        """Generate the input and stage it as parquet files, in order."""
        self.data = gen.generate(n_docs, self.seed)
        os.makedirs(self.stage)
        per = -(-n_docs // STAGE_FILES)
        for i in range(STAGE_FILES):
            pq.write_table(self.data.table.slice(i * per, per),
                           os.path.join(self.stage, f"part-{i}.parquet"),
                           compression="zstd")

    def setup(self, spark) -> None:
        raise NotImplementedError

    def prepare(self, k: int) -> None:
        """Untimed work before op ``k``."""

    def op(self, spark, k: int) -> None:
        """One op; raises CheckFailed when its output is wrong."""
        raise NotImplementedError

    def finish(self, spark) -> None:
        """Checks made once, outside the timed region."""

    def traced_calls(self):
        """Spans around library calls made inside a layer, for traced ops."""
        return nullcontext()

    def layers(self) -> dict[str, float]:
        """Per-op counts a traced run reports, from the op's store."""
        return {}


class Ingest(Workload):
    name = "ingest"

    def __init__(self, work, seed, tracer):
        super().__init__(work, seed, tracer)
        self.summary: dict = {}

    def setup(self, spark) -> None:
        self._stage(INGEST_DOCS)

    def prepare(self, k: int) -> None:
        from tbl_spark.store import ChunkStore
        if self.store is not None:
            shutil.rmtree(self.store.root, ignore_errors=True)
        self.store = ChunkStore(os.path.join(self.work, f"store-{k}"))

    def op(self, spark, k: int) -> None:
        from tbl_spark.partitioning import plan_num_parts
        from tbl_spark.store import encode_to_store
        df = spark.read.parquet(self.stage)
        with self.tracer.span("store.encode_to_store"):
            self.summary = encode_to_store(
                df, self.store, plan_num_parts(self.data.n_tokens))
        got = (self.summary["n_rows"], self.summary["n_values"])
        if got != (self.data.n_docs, self.data.n_tokens):
            raise CheckFailed(f"ingest wrote (rows, tokens) {got}, expected "
                              f"{(self.data.n_docs, self.data.n_tokens)}")

    def traced_calls(self):
        import tbl_spark.encode

        def around(audition):
            def traced(*args, **kwargs):
                with self.tracer.span("encode.audition"):
                    return audition(*args, **kwargs)
            return traced
        return wrapped(tbl_spark.encode, "audition_codec_hints", around)

    def finish(self, spark) -> None:
        from tbl_spark.store import decode_from_store
        check_by_source(decode_from_store(self.store, spark), self.data)

    def layers(self) -> dict[str, float]:
        from tbl_spark.inspect import store_stats
        st = store_stats(self.store)
        return {"encode.kernel_s": st["encode_cpu_sec"],
                "encode.chunks": self.summary["encoded_parts"]}


class _StoreRead(Workload):
    """Workloads that read a store built during set-up."""
    setup_uses_spark = True

    def _build(self, spark, n_docs: int, encode) -> None:
        from tbl_spark.store import ChunkStore
        self._stage(n_docs)
        self.store = ChunkStore(os.path.join(self.work, "store"))
        summary = encode(spark.read.parquet(self.stage), self.store)
        if summary["n_rows"] != self.data.n_docs:
            raise CheckFailed(f"set-up store holds {summary['n_rows']} "
                              f"rows, expected {self.data.n_docs}")

    def _read(self, spark, predicate=None):
        from tbl_spark.store import decode_from_store
        with self.tracer.span("store.decode_from_store"):
            return decode_from_store(self.store, spark, predicate=predicate)


class Scan(_StoreRead):
    name = "scan"

    def setup(self, spark) -> None:
        from tbl_spark.partitioning import plan_num_parts
        from tbl_spark.store import encode_to_store
        self._build(spark, SCAN_DOCS, lambda df, store: encode_to_store(
            df, store, plan_num_parts(self.data.n_tokens)))

    def op(self, spark, k: int) -> None:
        df = self._read(spark)
        with self.tracer.span("decode.exec"):
            check_by_source(df, self.data)
        self.tracer.count("store.parts_kept",
                          len(self.store.committed_parts()))
        self.tracer.count("decode.rows_decoded_per_row_returned", 1.0)


class Lookup(_StoreRead):
    name = "lookup"
    N_IDS = 4096

    def setup(self, spark) -> None:
        from tbl_spark.store import encode_to_store_colocated
        self._build(spark, LOOKUP_DOCS, encode_to_store_colocated)
        rng = np.random.default_rng([self.seed, 1])
        self.ids = rng.integers(0, self.data.n_docs, self.N_IDS)
        self.part_rows = {m["part_id"]: m["n_rows"]
                          for m in self.store.manifest_rows()}

    def traced_calls(self):
        import tbl_spark.store

        def around(prune):
            def traced(*args, **kwargs):
                with self.tracer.span("store.zone_prune"):
                    keep = prune(*args, **kwargs)
                self.tracer.count("store.parts_kept", len(keep))
                # one row is returned, so this is rows decoded per row
                self.tracer.count("decode.rows_decoded_per_row_returned",
                                  sum(self.part_rows.get(p, 0) for p in keep))
                return keep
            return traced
        return wrapped(tbl_spark.store, "zone_prune_parts", around)

    def op(self, spark, k: int) -> None:
        i = int(self.ids[k % self.N_IDS])
        df = self._read(spark, predicate=f"doc_id={gen.doc_id(i)}")
        with self.tracer.span("decode.exec"):
            row = df.agg(*checksum_cols()).collect()[0]
        want = (1, int(self.data.row_sums[i]))
        if (row["n"], row["h"]) != want:
            raise CheckFailed(f"lookup of {gen.doc_id(i)} returned "
                              f"{(row['n'], row['h'])}, expected {want}")


WORKLOADS = {w.name: w for w in (Ingest, Scan, Lookup)}
