"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]``; the configuration is written so the
same code runs unchanged on a multi-executor cluster: AQE handles skew and
partition coalescing at runtime, shuffle partitions are sized by the
driver, and all scale-sensitive choices (broadcast thresholds, partition
bytes) are plain Spark confs a cluster deployment would override.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime confs every session needs (settable on an existing session too).
RUNTIME_CONFS = {
    # The driver-generated parquet stores INT64 TIMESTAMP(NANOS) which Spark
    # cannot decode as a timestamp; read it as raw nanos and convert
    # explicitly (see sources.tables.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle-partition coalescing + skew-join
    # splitting; essential at 100 TB where static partition counts are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF boundary (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # NOT set: spark.sql.join.preferSortMergeJoin=false (guide §9's
    # "allow shuffled hash join").  Measured r8 with an order-ALTERNATED
    # interleaved A/B over 8 join-heavy queries at sf0.1: 17.12 s (SMJ)
    # vs 16.81 s (SHJ-allowed) — ~2%, inside session noise.  (A naive
    # fixed-order A/B had shown -10-12%, an artifact of always running
    # the SMJ leg first; alternating the order collapsed it.)  The
    # engine's hot joins are broadcast or AQE-planned already; keeping
    # the default preserves the always-spillable sort-merge path at
    # scale with no measured local cost.
}


#: SparkContexts already provisioned this process (applicationId-keyed)
_PYFILES_ADDED: set = set()


def _ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    The Arrow boundaries (mapInPandas decode, applyInPandas analyzers)
    are module-level functions, so cloudpickle serializes them BY
    REFERENCE — the worker must be able to ``import
    cloudpelican_lsd_spark``.  That held accidentally whenever the
    driver's cwd was the repo root (Python workers inherit it on
    sys.path); a driver launched from anywhere else failed with
    ModuleNotFoundError.  Zipping the package once per session and
    ``addPyFile``-ing it makes the engine self-sufficient on any driver
    and is exactly the ``--py-files`` deployment story a real cluster
    uses.
    """
    sc = spark.sparkContext
    try:
        ctx_key = sc.applicationId
    except Exception:
        ctx_key = id(sc)
    if ctx_key in _PYFILES_ADDED:  # process-global, NOT thread-local
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                entries.append(
                    (full, os.path.relpath(full, os.path.dirname(pkg_dir)))
                )
    entries.sort(key=lambda e: e[1])
    # content-addressed name: a stale zip from a previous (or foreign)
    # process can never ship wrong code — different content, different path
    digest = hashlib.sha256()
    for full, rel in entries:
        digest.update(rel.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"cloudpelican_lsd_spark_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full, rel in entries:
                zf.write(full, rel)
        os.replace(tmp, zpath)  # atomic: concurrent builders converge
    try:
        sc.addPyFile(zpath)
        _PYFILES_ADDED.add(ctx_key)
    except Exception:
        pass  # e.g. Connect sessions without addPyFile; cwd fallback applies


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an externally-created session (driver contract:
    ``entry(spark)`` / ``queries()`` receive a session we didn't build)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this session; proceed with its defaults
    _ensure_package_on_workers(spark)
    return spark


def _driver_java_opts() -> str:
    """Driver JVM options: the engine's code-cache sizing plus anything
    from ``SPARK_GRAFT_DRIVER_JAVA_OPTS`` — env options are APPENDED so
    they extend the default rather than silently dropping it; an env
    value that sets its own ReservedCodeCacheSize wins (the default is
    omitted)."""
    default = "-XX:ReservedCodeCacheSize=2g"
    extra = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "").strip()
    if not extra:
        return default
    if "ReservedCodeCacheSize" in extra:
        return extra
    return f"{default} {extra}"


def get_spark(app_name: str = "cloudpelican-lsd-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session. ``SPARK_GRAFT_CPUS`` controls core
    count (default: all)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = str(max(32, (cpus or os.cpu_count() or 8)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # JIT code cache sized for a LONG-LIVED session running hundreds
        # of distinct generated-code queries (r8).  The JVM default
        # (~240 MB, UseCodeCacheFlushing) fills after ~85 registry
        # queries (~1.4 MB of profiled nmethods per query, measured via
        # jcmd Compiler.codecache) and the flushing churn then leaves
        # hot whole-stage-codegen methods running INTERPRETED: in a
        # 50-query-old session, text_winnowing_density measured 5-8 s/run
        # and never reached its fresh-session 1.3 s steady state; with a
        # 2 GB code cache (plus the bench's existing pre-query
        # System.gc(), which unloads dead generated classes and their
        # profiles) the same aged session settles to 0.8-1.3 s.  This is
        # environment, not methodology: every query is timed exactly as
        # before, and the production analogue (a long-lived
        # supervisor/driver JVM serving many query shapes) wants the
        # same sizing.
        # SPARK_GRAFT_DRIVER_JAVA_OPTS APPENDS to (not replaces) the
        # code-cache default, unless the caller sets their own
        # ReservedCodeCacheSize (r9, ADVICE: the env escape hatch used to
        # silently drop the default).  Note this builder conf still
        # overrides any spark-defaults driver options, as builder confs
        # always do — deployments supplying their own JVM flags pass them
        # through the env var.
        .config(
            "spark.driver.extraJavaOptions",
            _driver_java_opts(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # reliable checkpoints (checkpoint.materialize under a checkpoint
        # dir) are deleted once their RDD is garbage-collected; left off,
        # every materialize leaves its files behind for good.  A context
        # conf: it cannot join RUNTIME_CONFS, which are set at runtime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
