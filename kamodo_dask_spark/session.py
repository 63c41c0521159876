"""SparkSession construction with scale-appropriate defaults.

Replaces the reference's dask client bootstrap
(``kamodo_dask/dask_config.py:12-39`` — env-driven scheduler address, local
fallback, worker-liveness guard): in Spark the driver/executor topology is
handled by the cluster manager, so all that remains is session configuration.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

def _default_shuffle_partitions(env: dict | None = None) -> str:
    """Shuffle parallelism scales UP with the session's core budget
    instead of staying a constant tuned to one host shape (guide §2), but
    never drops below the historical 32: fewer tasks than that loses the
    2-3x-tasks-per-core straggler/skew smoothing (measured at 8 cores:
    revenue_by_nation 1.26 s at 32 partitions vs 4.2 s at 8 — interleaved
    best-of-3, OPTIMIZATION_r14.md), and AQE coalescing already absorbs
    the overshoot on small inputs. SPARK_GRAFT_SHUFFLE_PARTITIONS
    overrides independently; at cluster scale set it to ~2-3x total
    cores (SCALE.md §tuning)."""
    env = os.environ if env is None else env
    override = env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if override is not None:
        return override
    try:
        cpus = int(env.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        cpus = 32
    return str(max(32, cpus))


# Tuned for correctness-at-scale first: AQE on (runtime re-plan, skew-join
# splitting, partition coalescing — subsumes the reference's manual
# repartition(partition_size='200MB'), kamodo_dask.py:239-244), UTC session tz
# (the reference pins tz='UTC', kamodo_dask.py:82), Arrow for any
# pandas-boundary transfer, and nanos-as-long so nanosecond-precision Parquet
# timestamps (unsupported by Spark's reader) are readable and normalizable.
DEFAULT_CONF = {
    # Spark's local-mode default driver heap is 1g regardless of host RAM —
    # a 100x-fixture dedup run GC-thrashes there (GCLocker retry storms)
    # while the host sits at 128 GiB. Only effective at JVM launch; ignored
    # (harmlessly) when attaching to an existing session, and irrelevant on
    # a real cluster where spark-submit sizes the driver.
    "spark.driver.memory": "16g",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # spark.sql.shuffle.partitions is added at session BUILD time
    # (get_spark), not here: a module-import-time default would freeze
    # whatever SPARK_GRAFT_CPUS said when the package was first imported
    # and silently ignore later env changes.
    # NOTE: spark.sql.requireAllClusterKeysForCoPartition=false is NOT set
    # here although the cell interpolation strategy depends on it — its
    # blast radius is every join in the session (any relation already
    # hash-partitioned on a SUBSET of later join keys would skip its
    # re-exchange, trading parallelism for the reuse even where the subset
    # key is low-cardinality). The cell-strategy entry points flip it on
    # for their session instead (grid/interpolate.py::
    # _enable_subset_copartition), so only sessions that actually run the
    # cell strategy pay the planner-behavior change.
    "spark.ui.enabled": "false",
}


def _external_master_configured(env: dict | None = None) -> bool:
    """True when the launch environment indicates an EXTERNAL Spark master
    (spark-submit / pyspark-shell), i.e. the local[] default must stay out
    of the way. Detection must not rely on SparkConf(): before the JVM
    gateway exists it is an empty python dict and cannot see spark-submit's
    system properties. A spark-submit-launched python driver instead
    connects to the ALREADY-RUNNING JVM through the env the launcher sets
    (PYSPARK_GATEWAY_PORT; MASTER/PYSPARK_SUBMIT_ARGS cover the
    pyspark-shell spellings). MASTER is a generic env name other tools may
    set — only trust it when its value actually looks like a Spark master
    URL, otherwise getOrCreate would die with 'master must be set' despite
    no real master existing."""
    env = os.environ if env is None else env
    master_env = env.get("MASTER", "")
    # bare-prefix "local" would also match foreign values like
    # "localhost:8080"; Spark's local spellings are exactly local,
    # local[N], local[N,M] and local-cluster[...]
    master_env_is_spark = (
        master_env in ("local", "yarn")
        or master_env.startswith(
            ("local[", "local-cluster[", "spark://", "k8s://", "mesos://")
        )
    )
    return (
        "PYSPARK_GATEWAY_PORT" in env
        or master_env_is_spark
        or "--master" in env.get("PYSPARK_SUBMIT_ARGS", "")
    )


def get_spark(
    app_name: str = "kamodo_dask_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` with a pre-set master or let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    else:
        # Builder options OVERRIDE spark-submit's --master, so only default
        # to local when no master was supplied externally — otherwise a
        # cluster deploy would silently run local[N] on the driver host.
        if not _external_master_configured():
            from pyspark import SparkConf

            if not SparkConf().contains("spark.master"):
                builder = builder.master(f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    # evaluated per call so the env is read at session build, not at
    # package import
    conf["spark.sql.shuffle.partitions"] = _default_shuffle_partitions()
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Set runtime confs for the duration of the block, restoring prior
    values after. Keys use ``__`` for ``.`` (``spark__sql__x`` →
    ``spark.sql.x``) or pass a pre-built dict via ``**{"spark.sql.x": v}``.

    Only safe when execution COMPLETES inside the block — a lazy DataFrame
    planned under the scope but executed after it sees the restored values.
    The confs are session-global: one thread drives a ``SparkSession`` at a
    time (README §Threads).
    """
    pairs = {k.replace("__", "."): str(v) for k, v in confs.items()}
    prior: dict[str, str | None] = {}
    for k, v in pairs.items():
        try:
            prior[k] = spark.conf.get(k, None)
        except Exception:
            prior[k] = None
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    try:
        yield
    finally:
        for k, old in prior.items():
            try:
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
            except Exception:
                pass


def ensure_session_conf(spark: SparkSession) -> None:
    """Best-effort apply engine-critical runtime confs to a foreign session.

    The verification driver owns its own SparkSession; runtime-settable confs
    (nanosAsLong, session timezone) are applied here so our sources behave
    identically under it.
    """
    for key in (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
    ):
        try:
            spark.conf.set(key, DEFAULT_CONF.get(key, "true"))
        except Exception:
            # Static / non-settable in this deployment — reads that need it
            # will fall back (see sources.parquet.read_events).
            pass


def s3a_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    max_connections: int = 50,
    max_attempts: int = 10,
    anonymous: bool = False,
    path_style_access: bool | None = None,
) -> dict[str, str]:
    """S3 connection settings as SparkConf keys — SURVEY §2.1 S8.

    Spark's counterpart of the reference's boto3/s3fs bootstrap
    (``kamodo_dask/dask_config.py:42-86``): a 50-connection pooled client
    with 10 retry attempts, optional static credentials and custom endpoint
    (the reference reads them from env). Keys carry the ``spark.hadoop.``
    prefix so they flow into the Hadoop configuration when passed as
    ``get_spark(extra_conf=s3a_conf(...))`` at session build time; for an
    ALREADY-RUNNING session use :func:`apply_s3a_conf` (S3A filesystem
    instances are created lazily per bucket, so settings applied before the
    first s3a:// access still take effect).
    """
    h = "spark.hadoop.fs.s3a."
    conf = {
        h + "connection.maximum": str(max_connections),
        h + "attempts.maximum": str(max_attempts),
    }
    if access_key is not None:
        conf[h + "access.key"] = access_key
    if secret_key is not None:
        conf[h + "secret.key"] = secret_key
    if endpoint is not None:
        conf[h + "endpoint"] = endpoint
    if anonymous:
        conf[h + "aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    if path_style_access is not None:
        conf[h + "path.style.access"] = str(bool(path_style_access)).lower()
    return conf


def apply_s3a_conf(spark: SparkSession, **kwargs) -> dict[str, str]:
    """Apply :func:`s3a_conf` settings to a LIVE session's Hadoop
    configuration (builder configs are ignored once a session exists).
    Returns the raw ``fs.s3a.*`` key/value pairs applied, for read-back."""
    prefixed = s3a_conf(**kwargs)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    applied = {}
    for k, v in prefixed.items():
        raw = k[len("spark.hadoop."):]
        hconf.set(raw, v)
        applied[raw] = v
    return applied
