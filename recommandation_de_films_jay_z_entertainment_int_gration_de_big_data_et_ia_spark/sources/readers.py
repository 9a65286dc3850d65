"""Schema-declared sources (SURVEY.md §2.1 S1–S3).

The reference mixes ``inferSchema=True`` on one CSV and untyped positional
reads on another (``src/preprocessing.py:6,11``) — an anti-pattern at scale
(inference costs an extra full scan and can mis-type at 100 TB). The engine
core therefore declares ``StructType`` for every source; inference is never
used. Parquet is the canonical columnar store (§1.5): readers return plain
DataFrames so Catalyst can push filters/projections into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# MovieLens-100k shapes from the reference (kept as engine-supported sources;
# reference: src/preprocessing.py:6-16, src/elasticsearch_ingest.py:15-27).
RATINGS_SCHEMA = T.StructType(
    [
        T.StructField("userId", T.IntegerType()),
        T.StructField("movieId", T.IntegerType()),
        T.StructField("rating", T.IntegerType()),
        T.StructField("timestamp", T.LongType()),
    ]
)

GENRES_100K = (
    "unknown", "Action", "Adventure", "Animation", "Childrens", "Comedy",
    "Crime", "Documentary", "Drama", "Fantasy", "FilmNoir", "Horror",
    "Musical", "Mystery", "Romance", "SciFi", "Thriller", "War", "Western",
)

MOVIES_SCHEMA = T.StructType(
    [
        T.StructField("movieId", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("release_date", T.StringType()),
        T.StructField("video_release_date", T.StringType()),
        T.StructField("imdb_url", T.StringType()),
    ]
    + [T.StructField(g, T.StringType()) for g in GENRES_100K]
)


def read_delimited(
    spark: SparkSession, path: str, schema: T.StructType, sep: str = ","
) -> DataFrame:
    """S1/S2: delimited flat-file scan with a declared schema (no inference)."""
    return spark.read.schema(schema).option("sep", sep).option("header", "false").csv(path)


def read_ratings(spark: SparkSession, path: str) -> DataFrame:
    """S1 (reference preprocessing.py:6-7): tab-separated ratings."""
    return read_delimited(spark, path, RATINGS_SCHEMA, sep="\t")


def read_movies(spark: SparkSession, path: str) -> DataFrame:
    """S2 (reference preprocessing.py:11-16): pipe-separated 24-col movies."""
    return read_delimited(spark, path, MOVIES_SCHEMA, sep="|")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize an events frame's ``ts`` to a UTC-anchored TIMESTAMP_LTZ
    regardless of how the file was written. Batch (``load_table``) and
    streaming (``streaming.windows``) readers all go through here, so
    their plans share one expression. The caller reads the file with
    ``spark.sql.legacy.parquet.nanosAsLong`` on.

    - TIMESTAMP(NANOS) files are rejected by the Spark parquet reader
      unless nanos are read as long; they are truncated to microsecond
      timestamps — the same truncation DuckDB applies.
    - timestamp[us] files (no UTC adjustment) arrive as TIMESTAMP_NTZ,
      which Spark 4 refuses to cast to numeric; the wall-clock is pinned
      to UTC via pure NTZ arithmetic — ``timestampdiff(MICROSECOND,
      NTZ-epoch, ts)`` then ``timestamp_micros`` — which is exactly
      DuckDB's ``epoch()`` interpretation of a naive timestamp. NB:
      ``to_utc_timestamp`` would NOT work here: it coerces NTZ→LTZ
      through the SESSION timezone first, silently shifting every epoch
      by the session offset on non-UTC drivers (caught by
      tests/test_timezone.py).
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        micros = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
        return df.withColumn("ts", F.timestamp_micros(micros))
    return df


# Tables whose consumers are dominated by per-row expression work
# (text tokenization/hash folds, embedding vector folds) rather than
# scan/aggregate throughput — the two classes where a sub-parallelism
# scan serializes the query (see load_table). Fact/dim tables stay
# un-spread: shuffling raw fact rows costs more than their single-task
# partial aggregation (measured 0.30 -> 1.17 s on a q01-class agg).
_EXPANSION_HEAVY_TABLES = {"documents", "embeddings"}


def load_table(spark: SparkSession, sf_dir: str, name: str, *, spread: bool = True) -> DataFrame:
    """S3: parquet scan of one driver testdata table.

    ``spread=False`` opts a consumer out of the expansion-heavy
    ``spread_small_scan`` (below): pure scan-aggregates whose partial
    aggregation collapses the table before any exchange (q255's
    composite-pagination contract is literally "ONE exchange") gain
    nothing from the fan-out and would pay a full-row shuffle for it.

    ``events.parquet``'s ``ts`` goes through ``normalize_event_ts``.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread and name in _EXPANSION_HEAVY_TABLES:
        # documents/embeddings feed interpreted per-row folds (tokenize/
        # shingle/md5 signatures, vector dot folds) in virtually every
        # consumer, and a single-row-group fixture file is ONE input
        # split no matter the split conf — serializing all of that onto
        # one core (guide §2.5 input skew; the round-10 sf10 audit's
        # starvation class, present in the driver's own sf0.1 layout).
        # spread_small_scan is a no-op whenever the scan already yields
        # >= defaultParallelism partitions, i.e. on any production-sized
        # corpus; locally it shuffles <= a few MB once. Catalyst still
        # pushes column pruning and filters below the round-robin
        # exchange, so pruned scans stay pruned.
        from ..functions.plan import spread_small_scan

        df = spread_small_scan(df)
    return df


def pit_snapshot(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Point-in-time snapshot of a table: ES ``search_after`` + PIT /
    ``scroll`` consistency semantics, stated and enforced (SURVEY §2.8c).

    ES deep pagination needs a PIT because its index mutates between
    page requests. In this engine's storage model a batch table is a
    write-once parquet directory, so a single action is always snapshot-
    consistent — but a *paginated session* spans many actions, and a
    plain ``spark.read.parquet(dir)`` re-lists the directory at each
    plan, so files appended between page N and page N+1 WOULD leak into
    later pages (exactly the ES failure mode PIT exists for).

    The fix is the same as ES's: pin the snapshot, not the query. This
    helper captures the directory's file list ONCE and returns a reader
    over those explicit paths; every subsequent keyset page (q100 /
    q255's search_after analog) planned from the returned frame sees
    exactly the files that existed at PIT-open time, regardless of
    concurrent appends. Keep the handle for the session, like an ES PIT
    id. ``scroll`` needs no separate machinery: scroll is PIT + cursor,
    and the keyset predicate is the cursor. Verified against a live
    concurrent append in tests/test_round10.py.

    At 100 TB the file listing is driver-side metadata (one RPC per
    directory, not per file, on object stores with list batching); a
    production deployment would use a table format's snapshot id
    (Iceberg/Delta) — same contract, catalog-managed.
    """
    # Hadoop FS listing via the JVM gateway — works for any Hadoop-
    # supported scheme, not just local paths.
    jvm = spark._jvm
    jsc = spark._jsc
    path = jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/{name}.parquet")
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    if fs.getFileStatus(path).isFile():
        # table written as one bare parquet file: pinning the path IS
        # pinning the snapshot (a rewrite replaces, never appends)
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    # Directory table: recurse so partitioned layouts (write_parquet's
    # partition_by writes key=value subdirectories) pin their leaf files
    # too. The earlier non-recursive listing saw only subdirectories,
    # collected zero files, and silently fell back to the live directory
    # path — the exact append-leaking read this helper exists to prevent.
    files: list[str] = []
    stack = [path]
    while stack:
        for st in fs.listStatus(stack.pop()):
            base = st.getPath().getName()
            if base.startswith(("_", ".")):
                continue
            if st.isFile():
                files.append(st.getPath().toString())
            else:
                stack.append(st.getPath())
    if not files:
        raise FileNotFoundError(
            f"pit_snapshot: no data files under {sf_dir}/{name}.parquet; "
            "refusing to fall back to a live (non-pinned) directory read"
        )
    # basePath keeps partition-column discovery identical to a plain
    # directory read even though we enumerate leaf files explicitly.
    return spark.read.option("basePath", f"{sf_dir}/{name}.parquet").parquet(*sorted(files))


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """S4: parquet sink (reference preprocessing.py:24). ``partition_by``
    enables partition pruning for downstream readers at scale."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


