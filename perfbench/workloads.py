"""The three workloads. Each generates its input from the seed in
``setup``, lists the ops of one pass, runs an op through the engine's
public functions inside layer spans, and returns an ``(actual,
expected)`` pair for the runner to compare after the op's clock stops.

* row_ingest   -- Python rows -> schema.rows_to_schema -> io.write_rows
                  -> io.read_orc + frame.to_frame, checked against the rows.
* orc_bulk     -- io.write_orc (zlib; zstd + partitionBy), each followed by
                  io.read_orc scans finished by frame.stats, checked
                  against numpy.
* llm_curation -- registered curation queries over a row-permuted corpus,
                  checked against the same query on the unpermuted corpus.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import numpy as np
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orca_spark import frame, io, schema, tables

import gen
from metrics import QUERIES


class Op:
    """One timed unit: ``type`` names it in metrics and the event log."""

    def __init__(self, type_: str, **kw):
        self.type = type_
        self.kw = kw


def orc_files(path: str) -> tuple[int, int]:
    """(number of ORC data files, their total bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".orc"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    warmup_passes = 2

    def __init__(self, spark, tracer, rundir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.rundir = rundir
        self.seed = seed
        # ORC output of timed ops, for orc_bytes_per_row and io.orc_*_per_write
        self.writes: list[tuple[int, int, int]] = []  # (files, bytes, rows)

    def record_write(self, path: str, rows: int, timed: bool) -> int:
        n, size = orc_files(path)
        if timed:
            self.writes.append((n, size, rows))
        return n


# ---------------------------------------------------------------------------


class RowIngest(Workload):
    """Batch round trips of Python rows. A pass is ``BATCHES`` batches, of
    which ``LENIENT`` (at seeded positions) are flat rows with bad cells
    that go through ``write_rows(lenient=True)``."""

    name = "row_ingest"
    BATCH_ROWS = 500
    BATCHES = 4
    LENIENT = 1
    POOL_PASSES = 6  # distinct passes generated in setup; later passes reuse them

    def setup(self):
        rng = random.Random(self.seed)
        self.pool = []
        for p in range(self.POOL_PASSES):
            lenient_at = set(rng.sample(range(self.BATCHES), self.LENIENT))
            batch_ops = []
            for b in range(self.BATCHES):
                id0 = 1_000_000 + (p * self.BATCHES + b) * self.BATCH_ROWS
                if b in lenient_at:
                    rows, expected = gen.lenient_batch(rng, self.BATCH_ROWS, id0)
                    batch_ops.append(Op("io.rows_roundtrip_lenient", rows=rows, expected=expected))
                else:
                    rows = gen.nested_batch(rng, self.BATCH_ROWS, id0)
                    batch_ops.append(Op("io.rows_roundtrip", rows=rows, expected=rows))
            self.pool.append(batch_ops)

    def ops(self, k: int) -> list[Op]:
        return self.pool[k % self.POOL_PASSES]

    def run(self, op: Op, op_id: str):
        rows = op.kw["rows"]
        path = os.path.join(self.rundir, "ingest", op_id)
        lenient = op.type == "io.rows_roundtrip_lenient"
        with self.tracer.span("schema.rows_to_schema", op_id):
            if lenient:
                sch = schema.rows_to_schema(
                    rows[: gen.SAMPLE_ROWS],
                    coerce_date_strings=True,
                    coerce_timestamp_strings=True,
                    coerce_decimal_strings=True,
                )
            else:
                sch = schema.rows_to_schema(rows)
        with self.tracer.span("io.write_rows.lenient" if lenient else "io.write_rows", op_id):
            io.write_rows(self.spark, path, rows, sch, lenient=lenient)
        with self.tracer.span("io.read_orc", op_id):
            df = io.read_orc(self.spark, path)
        with self.tracer.span("frame.to_frame", op_id):
            fr = frame.to_frame(df)
        return sch, fr, path

    def verify(self, op: Op, result, timed: bool):
        sch, fr, path = result
        self.record_write(path, len(op.kw["rows"]), timed)
        shutil.rmtree(path, ignore_errors=True)
        names = [f.name for f in sch.fields]
        actual = sorted(
            (tuple(_plain(v) for v in row) for row in zip(*(fr[c] for c in names))),
            key=lambda t: t[0],
        )
        expected = sorted(
            (tuple(_project(r.get(f.name), f.dataType) for f in sch.fields)
             for r in op.kw["expected"]),
            key=lambda t: t[0],
        )
        return (list(fr), actual), (names, expected)


def _plain(v):
    """Collected value -> plain Python (Rows become dicts, recursively)."""
    if isinstance(v, Row):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def _project(v, dtype):
    """Input value as the inferred schema reads it back: struct fields not
    in the schema drop out, absent ones read as null."""
    if v is None:
        return None
    if isinstance(dtype, T.StructType):
        return {f.name: _project(v.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, T.ArrayType):
        return [_project(x, dtype.elementType) for x in v]
    return v


# ---------------------------------------------------------------------------


class OrcBulk(Workload):
    """Vectorized ORC writes and scans over a generated ``lineitem``. An op
    is one round trip, a write and then scans of what it wrote, each scan
    finished by ``frame.stats``; the two round trips of a pass take about
    the same time, so the op percentiles describe one kind of request:

    * zlib:      write_orc(zlib), then a pushdown filter + projection scan
    * zstd_part: write_orc(zstd, partition_by l_returnflag), then a
                 partition-pruned scan and a full scan
    """

    name = "orc_bulk"
    ROWS = 600_000  # sf0.1's lineitem
    PUSHDOWN_SHIPDATE = "1998-01-01"
    PUSHDOWN_DISCOUNT = 0.03
    PARTITIONS = ["l_returnflag=A", "l_returnflag=N", "l_returnflag=R"]

    def setup(self):
        cols = gen.lineitem(self.seed, self.ROWS)
        self.corpus = os.path.join(self.rundir, f"lineitem_s{self.seed}")
        # one row group, as in sf0.1: the source scan is a single split
        gen.write_parquet(cols, os.path.join(self.corpus, "lineitem.parquet"),
                          row_group_size=self.ROWS)
        with self.tracer.span("tables.load", None):
            self.src = tables.load(self.spark, self.corpus, "lineitem")
        qty = cols["l_quantity"]
        push = (cols["l_shipdate"] >= np.datetime64(self.PUSHDOWN_SHIPDATE, "us")) & (
            cols["l_discount"] <= self.PUSHDOWN_DISCOUNT
        )
        self.expected = {
            "pushdown": _np_stats(qty[push]),
            "pruned": _np_stats(qty[cols["l_returnflag"] == "R"]),
            "full": _np_stats(qty),
        }
        self.out = os.path.join(self.rundir, "orc")

    def ops(self, k: int) -> list[Op]:
        return [Op("io.orc_roundtrip_zlib"), Op("io.orc_roundtrip_zstd_part")]

    def run(self, op: Op, op_id: str):
        if op.type == "io.orc_roundtrip_zlib":
            path = os.path.join(self.out, "zlib")
            with self.tracer.span("io.write_orc.zlib", op_id):
                io.write_orc(self.src, path, compression="zlib")
            return path, {"pushdown": self.scan(path, "pushdown", op_id)}
        path = os.path.join(self.out, "zstd_part")
        with self.tracer.span("io.write_orc.zstd_part", op_id):
            io.write_orc(self.src, path, compression="zstd", partition_by=["l_returnflag"])
        return path, {kind: self.scan(path, kind, op_id) for kind in ("pruned", "full")}

    def scan(self, path: str, kind: str, op_id: str) -> dict:
        with self.tracer.span(f"io.scan.{kind}", op_id):
            with self.tracer.span("io.read_orc", op_id):
                df = io.read_orc(self.spark, path)
            if kind == "pushdown":
                df = df.where(
                    (F.col("l_shipdate") >= F.lit(self.PUSHDOWN_SHIPDATE).cast("timestamp"))
                    & (F.col("l_discount") <= F.lit(self.PUSHDOWN_DISCOUNT))
                ).select("l_orderkey", "l_quantity")
            elif kind == "pruned":
                df = df.where(F.col("l_returnflag") == "R")
            with self.tracer.span("frame.stats", op_id):
                return frame.stats(df, "l_quantity")

    def verify(self, op: Op, result, timed: bool):
        path, stats = result
        files = self.record_write(path, self.ROWS, timed)
        expected = {kind: self.expected[kind] for kind in stats}
        if op.type == "io.orc_roundtrip_zlib":
            return (files > 0, stats), (True, expected)
        parts = sorted(d for d in os.listdir(path) if d.startswith("l_returnflag="))
        return (parts, stats), (self.PARTITIONS, expected)


def _np_stats(q: np.ndarray) -> dict:
    return {"sum": float(q.sum()), "min": float(q.min()), "max": float(q.max()), "count": int(q.size)}


# ---------------------------------------------------------------------------


class LlmCuration(Workload):
    """Registered curation queries over a seeded row permutation of a
    generated ``documents`` corpus the size of sf0.1's; each result, the
    curated output, is written through ``io.write_orc``. Each answer is
    digested order-insensitively and must equal the same query's digest
    on the unpermuted corpus, which the first warm-up pass computes; it
    must also hold the row-order-free truths of ``invariants``."""

    name = "llm_curation"
    # the reference pass is the only warm-up: after it the first timed
    # pass ran 5-12% slower than the second, while one more warm-up pass
    # would add 6-17 s of set-up to every run at this corpus size
    warmup_passes = 1
    DOCS = 5000  # sf0.1's documents

    def setup(self):
        from orca_spark.queries import queries

        self.q = queries()
        cols = gen.documents(self.seed, self.DOCS)
        order = np.random.default_rng(self.seed + 1).permutation(self.DOCS)
        # seed-specific basenames: the engine keys scratch paths on them
        self.base = os.path.join(self.rundir, f"docs_s{self.seed}")
        self.perm = os.path.join(self.rundir, f"docs_s{self.seed}_perm")
        gen.write_documents(cols, self.base)
        gen.write_documents(cols, self.perm, order)
        # doc ids sharing a text: one cluster whatever the row order
        by_text: dict[str, list[int]] = {}
        for doc_id, text in zip(cols["doc_id"], cols["text"]):
            by_text.setdefault(text, []).append(doc_id)
        self.exact_dups = [ids for ids in by_text.values() if len(ids) > 1]
        # per-language (n_docs, id_sum, total_chars), what the JSONL
        # stream must aggregate to
        totals: dict[str, list[int]] = {}
        for doc_id, lang, n_chars in zip(cols["doc_id"], cols["lang"], cols["n_chars"]):
            t = totals.setdefault(lang, [0, 0, 0])
            t[0], t[1], t[2] = t[0] + 1, t[1] + doc_id, t[2] + n_chars
        self.lang_totals = {(lang, *t) for lang, t in totals.items()}
        with self.tracer.span("tables.load", None):
            tables.load(self.spark, self.base, "documents")
            tables.load(self.spark, self.perm, "documents")
        self.reference: dict[str, str] = {}

    def ops(self, k: int) -> list[Op]:
        corpus = self.base if k == -1 else self.perm
        return [Op(f"queries.{name}", query=name, corpus=corpus) for name in QUERIES]

    def run(self, op: Op, op_id: str):
        name = op.kw["query"]
        with self.tracer.span(f"queries.call.{name}", op_id):
            df = self.q[name](self.spark, op.kw["corpus"])
        path = os.path.join(self.rundir, "curated", op_id)
        with self.tracer.span(f"queries.action.{name}", op_id):
            io.write_orc(df, path)
        return path

    def verify(self, op: Op, path: str, timed: bool):
        name = op.kw["query"]
        rows = io.read_orc(self.spark, path).collect()
        self.record_write(path, len(rows), timed)
        shutil.rmtree(path, ignore_errors=True)
        d = digest(rows)
        if op.kw["corpus"] == self.base:
            self.reference[name] = d
        return (d, self.invariants(name, rows)), (self.reference.get(name), True)

    def invariants(self, name: str, rows: list[Row]) -> bool:
        """Row-order-free truths of a query's answer, from the input.

        * connected components: one row per document, each labelled with
          its component's least doc id, and documents with identical text
          in one component;
        * JSONL stream ingest: the per-language totals of the input.
        """
        if name == "streaming_pysource_jsonl_ingest":
            return {(r["lang"], r["n_docs"], r["id_sum"], r["total_chars"]) for r in rows} \
                == self.lang_totals
        label = {r["doc_id"]: r["cluster_id"] for r in rows}
        return (
            len(rows) == self.DOCS == len(label)
            and all(label.get(c) == c and c <= d for d, c in label.items())
            and all(len({label[i] for i in ids}) == 1 for ids in self.exact_dups)
        )


def digest(rows: list[Row]) -> str:
    """Order-insensitive digest of a result: sha256 over its sorted rows."""
    lines = sorted(repr(tuple(_plain(v) for v in r)) for r in rows)
    cols = repr(rows[0].__fields__) if rows else ""
    return hashlib.sha256("\n".join([cols, *lines]).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (RowIngest, OrcBulk, LlmCuration)}
