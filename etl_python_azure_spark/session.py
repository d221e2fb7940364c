"""SparkSession factory.

One place to encode the engine-wide execution policy:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting)
  so the same plan survives sf0.001 smoke tests and a 1000-executor
  100 TB run without re-tuning.
- ``spark.sql.session.timeZone=UTC`` — the reference pipelines work
  in tz-naive timestamps (``S:141,199`` strip tzinfo); pinning UTC
  makes Spark's session-tz timestamps equivalent to naive, and keeps
  DuckDB-oracle comparisons stable.
- Arrow enabled for every pandas interop (Pandas UDFs, toPandas).
- shuffle partitions default to cores locally; on a real cluster the
  caller passes ``shuffle_partitions`` sized to the data (or leaves
  AQE to coalesce from a high initial count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local runs: $SPARK_GRAFT_CPUS, else the cores this process may run on
# (affinity, not the host's total, so a pinned container is not
# oversubscribed). On a cluster, submit-time --master wins.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "etl_python_azure_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (or one slot per
        usable core when unset) when no master is already configured
        (cluster submit sets its own).
    shuffle_partitions:
        Initial shuffle partition count. Locally ~cores is right;
        at 100 TB set high (e.g. 2000+) and let AQE coalesce.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{_DEFAULT_CPUS}]")
    n_shuffle = shuffle_partitions or int(_DEFAULT_CPUS)
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # parquet scans: pushdown + pruning are on by default; keep
        # split sizes bounded so a 100 TB table still yields sane tasks
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.parquet.filterPushdown": "true",
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # ns timestamp — read as long, convert in load_events()
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # cap debug plan-string rendering (see load_tables): AQE
        # re-renders explain strings per plan update and the default
        # ~2 GB cap OOMs small drivers on deep pipeline plans
        "spark.sql.maxPlanStringLength": str(1024 * 1024),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def eager_checkpoint(df):
    """Eagerly ``localCheckpoint`` a SHARED multi-consumer frame —
    the engine-wide rule (r12/r13, measured): consumers of a shared
    stage frame land in stages the scheduler runs CONCURRENTLY
    inside one action, where a lazy ``persist`` dedupes nothing and
    un-truncated lineage compounds into multi-megabyte plans.
    Call sites use ``df.transform(eager_checkpoint)`` so the chain
    style stays intact.

    Plan-audit escape hatch (r13 ADVICE): ``SPARK_GRAFT_LAZY_PLANS=1``
    returns the frame unchanged, so ``cli query --explain`` and
    ``scripts/dump_plans.py`` can print the FULL logical tree without
    executing the pipeline at builder time (eager checkpoints
    otherwise run the whole upstream pipeline before the first
    ``explain``, and the printed plan collapses to Scan ExistingRDD).
    Correctness is unaffected — shared subtrees simply recompute —
    but never set it for timed runs. Fold bodies whose checkpoints
    guard files deleted before return (``_sidecar_admit_fold``) call
    ``.localCheckpoint()`` directly and ignore the flag on purpose.

    Cluster fault-tolerance note (r13 ADVICE, also in SCALING.md):
    ``localCheckpoint`` blocks are executor-local and non-replicated
    with lineage truncated — an executor loss fails downstream
    actions instead of recomputing. Where executor churn dominates
    (spot fleets), swap in ``persist(MEMORY_AND_DISK_2)`` + count()
    or a reliable ``checkpoint()`` to a replicated store; locally
    and on stable fleets the eager local form wins (dd04a/d514
    measurements). ``sources.rest.records_to_df`` carries the same
    caveat for its lazy ingestion checkpoint (SCALING.md).
    """
    if os.environ.get("SPARK_GRAFT_LAZY_PLANS") == "1":
        return df
    return df.localCheckpoint()


# Process-local parquet SCHEMA cache (r14): every bare
# ``spark.read.parquet`` runs a footer-reading schema-inference JOB
# (~0.15 s on local[32]); a 280-query bench re-infers the same ten
# immutable tables hundreds of times. The cache holds only the
# inferred StructType — plan metadata, never data or results — keyed
# by (path, mtime_ns) so a rewritten table re-infers. Entries are
# per-process (nothing persists across runs) and inference happens
# under the same pinned confs load_tables always sets, so the cached
# schema is bit-for-bit what a fresh read would infer.
_SCHEMA_CACHE: dict = {}


def _read_parquet_cached_schema(spark: SparkSession, path: str):
    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        # URI-scheme / remote path: no cheap mtime — read normally
        return spark.read.parquet(path)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read one or more of the standard parquet tables from *sf_dir*.

    Returns a single DataFrame for one name, else a dict.
    ``events`` gets its ns-precision timestamp converted to Spark's
    µs TimestampType (truncation — matches DuckDB's ns→µs behavior).
    """
    # defensive: the caller may pass a session built elsewhere (the
    # round driver does) — pin the runtime confs the query semantics
    # rely on (ns-timestamp reads; UTC-naive timestamp comparisons)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # cap debug plan-string rendering: Spark's default is ~2 GB, and
    # AQE re-renders the explain string on every plan update — the
    # deep multi-stage pipelines (curation v3) OOM a default-1g bare
    # driver INSIDE StringBuilder before any data moves. 1 MB keeps
    # every log/UI string useful; truncation affects only debug text,
    # never results.
    spark.conf.set("spark.sql.maxPlanStringLength", str(1024 * 1024))
    dfs = {}
    for n in names:
        df = _read_parquet_cached_schema(spark, f"{sf_dir}/{n}.parquet")
        if n == "events" and dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        # parquet naive timestamps may surface as TIMESTAMP_NTZ
        # (depends on spark.sql.parquet.inferTimestampNTZ / version
        # defaults, which differ between our session and the round
        # driver's). Normalize to session-tz TIMESTAMP: with the UTC
        # pin above the wall-clock values are preserved exactly, and
        # every epoch/cast expression downstream stays valid.
        ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        if ntz_cols:
            from pyspark.sql import functions as F

            df = df.withColumns(
                {c: F.col(c).cast("timestamp") for c in ntz_cols}
            )
        dfs[n] = df
    if len(names) == 1:
        return dfs[names[0]]
    return dfs
