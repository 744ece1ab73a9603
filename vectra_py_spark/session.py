"""SparkSession construction with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores), but
every config below is chosen for the 1000-executor / 100 TB deployment:
AQE for runtime re-planning (skew joins, partition coalescing), Arrow for
any pandas-UDF boundary, and an explicit shuffle-partition count that
callers size to the data (32 locally; thousands on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "vectra-py-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    Scale notes (100 TB): everything here is cluster-size independent —
    AQE rewrites shuffle partition counts and skewed joins at runtime, so
    the static ``shuffle.partitions`` is only an upper bound pre-AQE.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Runtime re-planning: coalesce small shuffle partitions, split skewed
        # ones, demote/promote join strategies based on observed sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: dims (region/nation/query-vector tables) stay
        # broadcast; AQE can still promote larger sides at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): skips both sort passes;
        # identical results. The planner still falls back to SMJ when
        # no side is safely buildable, and AQE can re-plan at runtime;
        # measured a consistent few-percent win on the TPC-H-shaped
        # registry joins with no plan-shape change (exchange counts
        # unchanged).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Test fixtures write TIMESTAMP(NANOS) parquet, which Spark has no
        # native type for; read as BIGINT nanoseconds and convert in plans.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Plan strings are diagnostics, not data: iterative operators
        # whose plans self-reference through cached relations (label
        # propagation, PageRank/HITS) can compound the rendered tree
        # past the heap even when the plan itself is fine — Spark's
        # default cap is ~2 GB, and AQE renders the string on every
        # plan update (measured: an 8g driver OOMed in
        # PlanStringConcat under connected_components over a deep
        # pipeline). 8 MB keeps every explain readable and bounds the
        # render.
        .config("spark.sql.maxPlanStringLength", str(8 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema):
    """Driver rows (dicts, tuples in the schema's order, or an Arrow
    table whose columns are already in that order) + a declared schema
    (a ``StructType`` or DDL string) → a DataFrame that plans as
    ``LocalTableScan``, so projections over it fold on the driver and
    collecting them runs no job. This is the one driver-rows → DataFrame
    path in the package.

    Dict rows become an Arrow table with the schema's own types (nullable
    int64 for BIGINT, maps as maps), which Spark plans as a local
    relation at driver-row sizes, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.
    ``createDataFrame(list)`` would instead plan a pickled Python RDD
    whose every read starts Python workers; a pandas frame would take
    that same RDD route when Arrow is off, and Arrow's pandas form of a
    map column (a list of pairs) makes PySpark fall back to it even when
    Arrow is on. The frame's schema is ``schema``, nullability included.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        rows = pa.Table.from_pylist(
            [r if isinstance(r, dict) else dict(zip(schema.names, r))
             for r in rows],
            schema=to_arrow_schema(schema),
        )
    return spark.createDataFrame(rows, schema)


def xxhash_bucket(col, n_buckets: int):
    """``pmod(xxhash64(col), n_buckets)`` as INT: the bucket every
    hashed layout (the vector index, the band and postings indexes)
    partitions by. A deterministic Spark built-in, so every writer
    computes the same placement JVM-side."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def hash_buckets(spark: SparkSession, values, data_type, n_buckets: int) -> list[int]:
    """:func:`xxhash_bucket` of each driver value, in input order,
    projected over a :func:`local_frame`, which folds on the driver: no
    Spark job runs and no Python copy of the hash can diverge. This is
    how a probe turns its keys into partition coordinates."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField("k", data_type, True)])
    frame = local_frame(spark, [{"k": v} for v in values], schema)
    return [int(r[0]) for r in frame.select(xxhash_bucket("k", n_buckets)).collect()]


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the Hadoop FS API, so
    side files and directory deletes work on any scheme."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def write_side_file(spark: SparkSession, path: str, payload: dict) -> None:
    """A table's JSON side file (layout pins, index geometry), written
    via the Hadoop FS API so any scheme works (file/hdfs/s3a); a ``_``
    name prefix keeps it out of Spark's parquet listing."""
    import json

    fs, jpath = hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(payload), "utf-8"))
    finally:
        out.close()


def read_side_file(spark: SparkSession, path: str) -> "dict | None":
    """The JSON object a :func:`write_side_file` left at ``path``, or
    ``None`` when there is no file (a table written before its side
    file existed). A file that does not parse as a JSON object raises
    ``ValueError`` naming the file."""
    import json

    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    jvm = spark.sparkContext._jvm
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(jpath), "UTF-8")
    )
    try:
        chunks = []
        while (line := reader.readLine()) is not None:
            chunks.append(line)
    finally:
        reader.close()
    try:
        meta = json.loads("".join(chunks))
    except ValueError as e:
        raise ValueError(f"unreadable side file {path}: {e}") from e
    if not isinstance(meta, dict):
        raise ValueError(f"unreadable side file {path}: not a JSON object: {meta!r}")
    return meta


def map_rows(df, in_cols, row_fn, schema, on_error=None,
             catch=(ValueError,), per_task=False):
    """Per-row Python over ``in_cols`` → a frame of ``schema``: the one
    builder behind every per-payload decoder, as one narrow
    ``mapInArrow`` (payloads never shuffle; streaming frames too).

    ``row_fn(*values)`` returns the output rows of one input row, as
    tuples in ``schema`` order (MAP inputs arrive as dicts). They are
    materialized before any is kept, so a payload that fails partway
    contributes only its error row. When ``row_fn`` raises one of
    ``catch``, ``on_error(values, exc)`` returns that error row, or
    ``None`` to drop the input row; with ``on_error=None`` the exception
    propagates. With ``per_task=True``, ``row_fn`` is a zero-argument
    factory called once per task (Spark reuses Python workers, so state
    such as a connection pool or a pacing clock must not outlive one).

    Output batches are Arrow-typed by the same mapping as
    :func:`local_frame`, so INT/BIGINT, MAP and BINARY columns come back
    exact: no pandas dtype inference rounds a BIGINT beside a NULL.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    fields = list(to_arrow_schema(schema))

    def pylist(col):
        vals = col.to_pylist()
        if pa.types.is_map(col.type):
            return [v if v is None else dict(v) for v in vals]
        return vals

    def run(batches):
        fn = row_fn() if per_task else row_fn
        for batch in batches:
            out = []
            for values in zip(*map(pylist, batch.columns)):
                try:
                    out.extend(list(fn(*values)))
                except catch as exc:
                    if on_error is None:
                        raise
                    err = on_error(values, exc)
                    if err is not None:
                        out.append(err)
            cols = list(zip(*out)) or [()] * len(fields)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, fields)],
                schema=pa.schema(fields),
            )

    return df.select(*in_cols).mapInArrow(run, schema)


def quarantine_rows(on_error: str, error_row):
    """A decoder's public ``on_error`` switch → :func:`map_rows`'
    ``on_error``: ``'fail'`` propagates the ValueError (``None``),
    ``'quarantine'`` keeps ``error_row(values, exc)`` in its place."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be fail|quarantine, got {on_error!r}")
    return error_row if on_error == "quarantine" else None


def _parse_bytes(s: str) -> int:
    """Parse a Spark byte-size conf value ("134217728b", "128m",
    "1g", "512MB", plain digits) into bytes."""
    s = str(s).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3),
                   ("t", 1024**4), ("p", 1024**5)):
        if s.endswith(suf):
            mult = m
            s = s[: -len(suf)]
            break
    return int(float(s) * mult)


def _input_bytes(spark, files) -> int:
    """Total on-storage size of a plan's input files via the Hadoop
    FileSystem API (works for any scheme the session can read). Only
    called on FEW-file listings (the many-file case short-circuits
    before sizing), so the per-file metadata round-trip is bounded."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(hconf).getFileStatus(p).getLen()
    return total


def spread(df, target: int | None = None):
    """Repartition a narrow-source DataFrame so per-partition stages
    (``mapInPandas`` workers, regex-heavy projections) use every core.

    A small table read from one Parquet file arrives as ONE partition,
    which serializes every downstream narrow stage onto a single Python
    worker/JVM task (measured: 3.6 s → 1.6 s for sf0.1 shingling just
    by spreading). No-op when the source's scan already carries ≥ target
    parallelism — the 100 TB case, where adding a shuffle here would be
    pure loss.

    The guard estimates the scan's SPLIT count, not just its file count:
    ``len(df.inputFiles()) >= target`` short-circuits the many-files
    case for free, and a FEW-huge-files table
    (say 40×10 GB — thousands of scan splits but 40 files) is sized via
    the Hadoop FileSystem and left alone when
    ``total_bytes / maxPartitionBytes >= target``, because each scan
    split is at most ``maxPartitionBytes`` so that ratio lower-bounds
    the scan's task count. Without the size check such a table would be
    round-robin-shuffled in full AND capped at ≤ 64 partitions —
    strictly worse than doing nothing.

    The check reads the plan's file listing (``df.inputFiles()``), NOT
    ``df.rdd.getNumPartitions()``: materializing ``df.rdd`` converts the
    whole plan to RDD form per call, which is far from free on a wide
    plan at scale. Non-file sources (in-memory relations) report zero
    files and get spread, which is exactly right for driver-built
    fixtures; a failed size lookup falls back to spreading (the local/
    fixture direction of the trade-off).
    """
    sc = df.sparkSession.sparkContext
    n = target or min(sc.defaultParallelism, 64)
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= n:
        return df
    if files:
        try:
            maxpb = _parse_bytes(
                df.sparkSession.conf.get(
                    "spark.sql.files.maxPartitionBytes", "128m"
                )
            )
            if _input_bytes(df.sparkSession, files) // max(maxpb, 1) >= n:
                return df
        except Exception:
            pass
    return df.repartition(n)
