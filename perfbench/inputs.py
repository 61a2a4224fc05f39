"""Seeded input generation for the three workloads.

Every input is derived from ``--seed`` through ``addressit_spark.sources.
corpus`` (keyed-hash generation, so the same seed gives byte-identical rows)
and written to parquet before any timing starts. The program under test
only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from addressit_spark.sources.corpus import (
    GEN_SCHEMA,
    build_doc_row,
    entity_profile,
    synth_corpus,
)

# Input sizes, chosen so that one run of each workload, with its set-up and
# warm-up, fits the benchmark's time budget on a 4-core host.
ER_ENTITIES = 4000  # ~14k documents, ~150k candidate pairs
PARSE_BASE_ENTITIES = 3000  # ~10k distinct documents before repetition
PARSE_MAX_COPIES = 32  # Zipf(1) copy counts capped here: ~25% distinct
INC_ENTITIES = 2000  # ~7k documents in all
INC_STREAM_DOCS = 1050  # documents that arrive as the stream, not the snapshot
INC_BATCHES = 3  # one parquet file, so one micro-batch, each
INC_WARMUP_BATCHES = 2  # leading micro-batches that are not timed
INC_EPOCH = 1_700_000_000  # ingest_ts base (event time is not exercised)
FILES = 8  # parquet files per table written here: synth_corpus's default partitions

CORPUS_SCHEMA = to_arrow_schema(GEN_SCHEMA)
STREAM_SCHEMA = pa.schema(
    [CORPUS_SCHEMA.field("doc_id"), CORPUS_SCHEMA.field("spans"),
     pa.field("ingest_ts", pa.timestamp("us", tz="UTC"))]
)


@dataclass
class Inputs:
    corpus: str  # parquet: doc_id, entity_id, address_pos, canonical_text, spans
    documents: str  # parquet in the program's input shape
    stream: str = ""  # er_incremental only: one file per micro-batch


def _hash_u(seed: int, salt: str) -> "F.Column":
    """Uniform (0, 1] per document, keyed by seed."""
    h = F.pmod(F.xxhash64(F.lit(seed), F.lit(salt), F.col("doc_id")), F.lit(1 << 20))
    return (h + 1) / float(1 << 20)


def _corpus(spark: SparkSession, n: int, seed: int, path: str) -> DataFrame:
    synth_corpus(spark, n, seed=seed).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def er_batch(spark: SparkSession, seed: int, d: str) -> Inputs:
    """Zipf-skewed localities; each entity rendered 1-6 ways."""
    c = _corpus(spark, ER_ENTITIES, seed, os.path.join(d, "corpus"))
    docs = os.path.join(d, "documents")
    c.select("doc_id", "spans").write.mode("overwrite").parquet(docs)
    return Inputs(corpus=os.path.join(d, "corpus"), documents=docs)


def parse_only(spark: SparkSession, seed: int, d: str) -> Inputs:
    """Documents repeated with Zipf(1) counts, like re-crawled pages.

    A document drawn with u ~ U(0, 1] is repeated min(cap, floor(1/u))
    times, so P(copies >= k) = 1/k; with cap 32 the mean is H(32) ~ 4.06
    copies, about 25% distinct texts.
    """
    c = _corpus(spark, PARSE_BASE_ENTITIES, seed, os.path.join(d, "corpus"))
    copies = F.least(F.lit(PARSE_MAX_COPIES), F.floor(1.0 / _hash_u(seed, "copies")))
    rep = c.select(
        "doc_id",
        "spans",
        "address_pos",
        F.explode(F.sequence(F.lit(0), copies.cast("int") - 1)).alias("copy"),
    ).select(
        F.concat_ws("~", "doc_id", F.col("copy").cast("string")).alias("doc_id"),
        "spans",
        "address_pos",
    )
    docs = os.path.join(d, "documents")
    rep.write.mode("overwrite").parquet(docs)
    return Inputs(corpus=os.path.join(d, "corpus"), documents=docs)


def er_incremental(spark: SparkSession, seed: int, d: str) -> Inputs:
    """A snapshot plus equal micro-batches split by document hash.

    Stream documents come from the same entity population as the snapshot,
    so every batch lands in blocks, and clusters, the snapshot already has.

    The rows come from ``build_doc_row``, the function ``synth_corpus``
    maps, but are built in this process and written with pyarrow: the
    workload's snapshot build warms the JVM anyway, and Spark-side
    generation would add about 8 s of JVM warm-up to every run.
    """
    rows = [
        build_doc_row(eid, v, seed)
        for eid in range(INC_ENTITIES)
        for v in range(int(entity_profile(eid, seed)["n_variants"]))  # type: ignore[arg-type]
    ]
    for r in rows:
        h = hashlib.blake2b(str(r["doc_id"]).encode(), digest_size=8).digest()
        r["ingest_ts"] = (INC_EPOCH + int.from_bytes(h, "big") % 300) * 1_000_000
    corpus = os.path.join(d, "corpus")
    _write_files(rows, CORPUS_SCHEMA, corpus)
    # a fixed number of stream documents, dealt round-robin into equal
    # batches in seeded-hash order, so every seed streams the same volume
    ranked = sorted(rows, key=lambda r: (_seeded_u(seed, "stream", r["doc_id"]), r["doc_id"]))  # type: ignore[arg-type]
    snap = os.path.join(d, "snapshot")
    _write_files(ranked[INC_STREAM_DOCS:], STREAM_SCHEMA, snap)
    # one file per micro-batch; maxFilesPerTrigger=1 takes files in
    # modification-time order, so the times are set one second apart,
    # batch 0 first
    stream = os.path.join(d, "stream")
    os.makedirs(stream)
    t0 = time.time() - INC_BATCHES
    for b in range(INC_BATCHES):
        f = stream_file(stream, b)
        batch = ranked[b:INC_STREAM_DOCS:INC_BATCHES]
        pq.write_table(pa.Table.from_pylist(batch, schema=STREAM_SCHEMA), f)
        os.utime(f, (t0 + b, t0 + b))
    return Inputs(corpus=corpus, documents=snap, stream=stream)


def _seeded_u(seed: int, salt: str, doc_id: str) -> float:
    """Uniform (0, 1] per document, keyed by seed."""
    raw = ("%d|%s|%s" % (seed, salt, doc_id)).encode()
    h = int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")
    return ((h % (1 << 20)) + 1) / float(1 << 20)


def _write_files(rows: List[Dict[str, object]], schema: pa.Schema, path: str) -> None:
    """``FILES`` parquet files in one directory, as ``synth_corpus`` writes them.

    Spark makes at least one input partition per file, so the parse stage
    runs on every core, as it does on Spark-written input.
    """
    os.makedirs(path)
    step = -(-len(rows) // FILES)
    for i in range(FILES):
        part = pa.Table.from_pylist(rows[i * step:(i + 1) * step], schema=schema)
        pq.write_table(part, os.path.join(path, "part-%05d.parquet" % i))


def stream_file(stream: str, b: int) -> str:
    """The parquet file that holds micro-batch ``b``."""
    return os.path.join(stream, "part-%05d.parquet" % b)


GENERATORS = {
    "er_batch": er_batch,
    "parse_only": parse_only,
    "er_incremental": er_incremental,
}
