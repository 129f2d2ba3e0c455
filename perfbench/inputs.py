"""Seeded inputs for the benchmark workloads.

Everything the engine receives is generated here from the workload seed:
the flat documents table (its doc_id offset moves the derived corpus
keys), the polygon set and every kNN query batch.  The numpy views the
oracles need (polygon rings, expected corpus size) come from the same
generators, never from the engine's outputs.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

# word pool of the repository's test corpus (documents.text is drawn from it)
WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value agg column big vector a"
).split()
WORDS_PER_SPAN = 8  # sources.adapter.WORDS_PER_SPAN: words -> span count


def sub_seed(seed: int, *parts) -> int:
    """Stable 31-bit seed derived from the workload seed and a label."""
    h = hashlib.sha256(repr((seed,) + parts).encode()).digest()
    return int.from_bytes(h[:4], "little") & 0x7FFFFFFF


def doc_rows(n_docs: int, seed: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows: 10..100 words each, doc ids from a seeded
    offset so the seed moves every derived point of the corpus."""
    rng = np.random.RandomState(sub_seed(seed, "docs"))
    offset = int(rng.randint(0, 1 << 20))
    n_words = rng.randint(10, 101, size=n_docs)
    words = np.array(WORDS)
    return [(offset + i, " ".join(words[rng.randint(len(WORDS), size=int(n))]))
            for i, n in enumerate(n_words)]


def n_spans(rows: list[tuple[int, str]]) -> int:
    """Span rows spanify_exploded makes from `rows` (ceil(words / 8))."""
    return sum(-(-len(t.split(" ")) // WORDS_PER_SPAN) for _, t in rows)


def docs_frame(spark: SparkSession, rows) -> DataFrame:
    return spark.createDataFrame(rows, "doc_id long, text string")


def build_corpus(spark: SparkSession, docs: DataFrame, replicas: int,
                 partitions: int) -> DataFrame:
    """Cached point corpus: exploded spans x `replicas` sub-keys, each
    geocoded to (qlat, qlon, cell) — the shape bench.py builds."""
    from tree_code_chunker_spark.operators.geo import cell_col, derive_point_cols
    from tree_code_chunker_spark.sources.adapter import spanify_exploded

    base = spanify_exploded(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_pos").cast("long").alias("span_pos"))
    keys = base.crossJoin(
        spark.range(replicas).select(F.col("id").alias("rep"))
    ).select("doc_id",
             (F.col("span_pos") * replicas + F.col("rep")).alias("span_pos"))
    qlat, qlon = derive_point_cols(F.col("doc_id"), F.col("span_pos"))
    pts = keys.select("doc_id", "span_pos", qlat.alias("qlat"),
                      qlon.alias("qlon"))
    pts = pts.withColumn("cell", cell_col(F.col("qlat"), F.col("qlon")))
    return pts.repartition(partitions).cache()


def polygon_seed(seed: int) -> int:
    return sub_seed(seed, "polygons")


def query_seed(seed: int, request: int) -> int:
    return sub_seed(seed, "knn", request)


def dwithin_queries(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """Uniform (non-hot) dwithin query points."""
    rng = np.random.RandomState(sub_seed(seed, "dwithin"))
    qlat = rng.randint(0, 65536, size=n)
    qlon = rng.randint(0, 65536, size=n)
    rows = [(i, int(a), int(o)) for i, (a, o) in enumerate(zip(qlat, qlon))]
    return spark.createDataFrame(rows, "query_id long, qlat bigint, qlon bigint")
