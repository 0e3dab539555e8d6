"""SparkSession construction with scale-appropriate defaults.

Local testing runs ``local[N]`` but every default here is chosen for a
multi-executor cluster at large scale:

- AQE on (runtime coalescing, skew-join splitting),
- Arrow on (the critical-path kernel exchanges via Arrow batches),
- ``mapKeyDedupPolicy=LAST_WIN`` so tag-list→map normalization keeps the
  last duplicate tag key, matching the reference's dict semantics
  (``/root/reference/traceframe/traceframe.py:261-265`` — later keys win).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Whole-stage codegen classes cached per JVM (Spark's default: 100). One
# round of the trace analyses and searches, or one curation pass,
# generates more distinct classes than that, so identical queries evicted
# each other and every repeat recompiled 100-270 classes with Janino.
CODEGEN_CACHE_ENTRIES = 2000


def local_frame(spark: SparkSession, rows, schema: str, slices: int | None = None):
    """A small driver-local relation as a DataFrame with a BOUNDED
    partition count.

    ``spark.createDataFrame(list, schema)`` parallelizes the pickled
    rows into ``defaultParallelism`` partitions (32 on local[32], one
    per core on a cluster). Every partition — almost all of them EMPTY
    for the one-row store-meta frames — must then be drained through
    its own Python-worker round trip by whoever evaluates the frame,
    and any single-task consumer (a ``coalesce(1)`` meta write, a
    broadcast build) drains them SERIALLY: measured 5-7 s of pure
    blocking (0.13 s CPU) to write one meta row on this box, repeated
    in every store build. Slicing to ~one partition per 10k rows keeps
    a local relation a local-sized job at any cluster width; semantics
    are identical (same rows, same schema verification path).
    """
    rows = list(rows)
    n = slices if slices is not None else 1 + len(rows) // 10_000
    if not rows:
        return spark.createDataFrame(
            spark.sparkContext.parallelize([], 1), schema=schema
        )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema=schema
    )


def write_meta_dir(spark: SparkSession, dirpath: str, obj: dict) -> None:
    """Write a one-row JSON meta directory DRIVER-SIDE (Hadoop FS API,
    no Spark job): the Spark-written form (:func:`local_frame` → one-
    slice json write) costs a whole job + task round trip to persist a
    single row. Layout matches the Spark json source exactly — one
    ``part-00000.json`` line file plus ``_SUCCESS`` — so either reader
    (:func:`read_meta_dir` or ``spark.read.json``) accepts either
    writer's output, including stores written by earlier rounds."""
    import json as _json

    jvm = spark._jvm
    d = jvm.org.apache.hadoop.fs.Path(dirpath)
    fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(d, True)
    fs.mkdirs(d)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(f"{dirpath}/part-00000.json"), True)
    try:
        out.write(bytearray((_json.dumps(obj) + "\n").encode("utf-8")))
    finally:
        out.close()
    fs.create(jvm.org.apache.hadoop.fs.Path(f"{dirpath}/_SUCCESS"), True).close()


def schema_json_of(df) -> dict:
    """A frame's schema as a JSON-able dict with every top-level field
    relaxed to nullable — the weaker (always-safe) assumption, so a
    pinned schema can never assert non-nullability that a later
    append's files don't hold. Feeds the ``layer_schemas`` store-meta
    field that lets readers skip parquet schema inference (one Spark
    job per layer read, paid at probe PLAN time otherwise)."""
    s = df.schema.jsonValue()
    for f in s.get("fields", []):
        f["nullable"] = True
    return s


def read_meta_dir(spark: SparkSession, dirpath: str) -> dict:
    """Read a one-row JSON meta directory DRIVER-SIDE (no Spark job —
    ``spark.read.json`` pays one schema-inference job plus one collect
    job at PROBE PLAN TIME, measured ~0.3-0.6 s of every standing-store
    probe). Falls back to the Spark reader on any FS/parse surprise, so
    a store whose meta was written by any earlier round still reads."""
    import json as _json

    try:
        jvm = spark._jvm
        d = jvm.org.apache.hadoop.fs.Path(dirpath)
        fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
        for status in fs.listStatus(d):
            name = status.getPath().getName()
            if name.startswith(("_", ".")) or not name.endswith(".json"):
                continue
            stream = fs.open(status.getPath())
            try:
                reader = jvm.java.io.BufferedReader(
                    jvm.java.io.InputStreamReader(stream, "UTF-8")
                )
                line = reader.readLine()
                while line is not None and not line.strip():
                    line = reader.readLine()
            finally:
                stream.close()
            if line:
                return _json.loads(line)
        raise IOError(f"no json part file under {dirpath}")
    except Exception:  # noqa: BLE001 — any surprise → the Spark reader
        row = spark.read.json(dirpath).collect()[0]
        return {k: row[k] for k in row.__fields__}


def get_spark(
    app_name: str = "traceframe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster callers pass ``None`` with a pre-set master in spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # events.parquet carries TIMESTAMP(NANOS); read as long nanos
        # (ordering-compatible; convert at the edge where wall time is needed)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static: only a new session's JVM picks it up
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate IGNORES every builder config when a session already
    # exists (notebooks, shared runtimes) — re-apply the runtime-settable
    # correctness confs so tag-map LAST_WIN semantics, the UTC timezone
    # contract, and nano reads hold regardless of who built the session
    for k, v in {
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
    }.items():
        spark.conf.set(k, v)
    return spark
