"""The workloads: seeded inputs and one verified operation each.

Every input is generated from the workload seed with
``sources.synth.files_table`` and written to parquet under the run's
work directory; the operation under test reads only those files.
Inputs live on disk, not in the Spark cache, because every run ends
with ``spark.catalog.clearCache()``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from riksdagen_sentences_spark.plans import delta as D
from riksdagen_sentences_spark.plans import pipeline as P
from riksdagen_sentences_spark.sources.synth import files_table

# Input sizes.  A graph build pays several seconds of per-job fixed
# cost at any size, so these are as small as keeps the kernel chain a
# visible share of a run while set-up, a warm-up and the timed runs of
# one invocation stay within about a minute on a 4-core box.
UNIQUE_FILES = 3000
BIG_DOC_EVERY = 1000  # 3 of the 3000 unique files exceed CHUNK_SIZE
DUP5_FILES = 3000
DUP_FACTOR = 5
DELTA_KNOWN = 150  # new commits of files already in the store
DELTA_FRESH = 15  # files with never-seen content
NEARDUP_DOCS = 2000
NEARDUP_DUP_FACTOR = 2  # every text appears twice: pairs with J = 1
PREFIX_T = (3, 10)  # prefix_jaccard_pairs threshold t_num / t_den


def dup5_files(spark: SparkSession, seed: int) -> DataFrame:
    """graph_dup5's input, which also seeds the traced delta store."""
    return files_table(
        spark, n_rows=DUP5_FILES, seed=seed, dup_factor=DUP_FACTOR
    )


def digest(df: DataFrame, key: str | None = "pred") -> dict[str, list]:
    """Order-independent fingerprint of ``df``: per value of ``key``,
    the row count and the sum of xxhash64 over every column.  The sum
    runs in decimal(38,0) because a BIGINT sum overflows under ANSI
    mode.  Hashing every column also forces every id column, which a
    bare ``count()`` lets Catalyst prune."""
    h = F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")
    n = F.count(F.lit(1)).alias("n")
    if key is None:
        r = df.agg(n, h).first()
        return {"*": [int(r["n"]), str(r["h"] or 0)]}
    return {
        str(r[key]): [int(r["n"]), str(r["h"])]
        for r in df.groupBy(key).agg(n, h).collect()
    }


def digest_rows(d: dict[str, list]) -> int:
    return sum(v[0] for v in d.values())


@dataclass
class Outcome:
    """One timed operation: its wall time, output rows, and the values
    verification compares across runs."""

    seconds: float
    rows_out: int
    check: object
    errors: list[str] = field(default_factory=list)


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.dir = os.path.join(work, self.name)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def generate(self) -> None:
        """Write the inputs."""
        raise NotImplementedError

    def input_stats(self) -> dict[str, int]:
        """Row and distinct-content counts of the main input."""
        r = self.input().agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(F.sha2("content", 256)).alias("distinct"),
        ).first()
        return {"input_rows": int(r["rows"]), "distinct_contents": int(r["distinct"])}

    def run(self) -> Outcome:
        raise NotImplementedError

    def input(self) -> DataFrame:
        return self.spark.read.parquet(self.path("files"))


class GraphUnique(Workload):
    """``pipeline.triples`` over unique-content files."""

    name = "graph_unique"

    def generate(self) -> None:
        files_table(
            self.spark,
            n_rows=UNIQUE_FILES,
            seed=self.seed,
            big_doc_every=BIG_DOC_EVERY,
        ).write.mode("overwrite").parquet(self.path("files"))

    def run(self) -> Outcome:
        files = self.input()
        t0 = time.perf_counter()
        d = digest(P.triples(self.spark, P.docs_from_files(files)))
        return Outcome(time.perf_counter() - t0, digest_rows(d), d)


class GraphDup5(Workload):
    """``pipeline.triples_dedup`` over files with 5x content
    duplication."""

    name = "graph_dup5"

    def generate(self) -> None:
        dup5_files(self.spark, self.seed).write.mode("overwrite").parquet(
            self.path("files")
        )

    def run(self) -> Outcome:
        files = self.input()
        t0 = time.perf_counter()
        d = digest(P.triples_dedup(self.spark, files))
        return Outcome(time.perf_counter() - t0, digest_rows(d), d)


class DeltaUpdates(Workload):
    """Inputs of the traced delta layers: a store seeded with
    graph_dup5's input, and one update batch of new commits of known
    files plus a small fresh-content slice."""

    name = "delta_updates"

    def generate(self) -> None:
        dup5_files(self.spark, self.seed).write.mode("overwrite").parquet(
            self.path("files")
        )
        file_id = F.regexp_extract("path", r"file(\d+)\.txt$", 1).cast("long")
        known = (
            self.input()
            .filter(file_id < DELTA_KNOWN)
            .withColumn("commit", F.concat(F.lit("u0-"), "commit"))
        )
        fresh = files_table(
            self.spark, n_rows=DELTA_FRESH, seed=self.seed * 7919 + 1
        )
        known.unionByName(fresh).write.mode("overwrite").parquet(
            self.path("batch")
        )

    def seed_store(self) -> None:
        """Seed the store at ``path("store")`` with graph_dup5's input."""
        D.update_graph(self.spark, self.path("store"), self.input())

    def batch(self) -> DataFrame:
        return self.spark.read.parquet(self.path("batch"))

    @staticmethod
    def expected_counts() -> dict[str, int]:
        return {
            "files_new": DELTA_KNOWN + DELTA_FRESH,
            "contents_fresh": DELTA_FRESH,
            "contents_reused": DELTA_KNOWN,
        }


class NeardupPass(Workload):
    """Input of the traced ``operators.neardup`` layers: synthetic
    documents, every text twice."""

    name = "neardup_pass"

    def generate(self) -> None:
        files_table(
            self.spark,
            n_rows=NEARDUP_DOCS,
            seed=self.seed,
            dup_factor=NEARDUP_DUP_FACTOR,
        ).select(F.col("path").alias("doc_id"), "content").write.mode(
            "overwrite"
        ).parquet(self.path("files"))


# the workloads --workload accepts; DeltaUpdates and NeardupPass only
# provide the inputs of the traced run's delta and near-dup layers
WORKLOADS = {w.name: w for w in (GraphUnique, GraphDup5)}
