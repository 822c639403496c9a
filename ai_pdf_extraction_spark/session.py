"""SparkSession factory with scale-oriented defaults.

Encodes the physical-execution decisions from SURVEY.md §4: AQE on
(coalesce + skew-join split), Arrow enabled for the pandas-UDF hot
path, Arrow batch size capped so batches of large ``html`` binary
columns fit executor memory (SURVEY.md §7.4), and shuffle partitions
sized to parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cap Arrow batches BY BYTES (Spark 4's direct knob): html payloads
# are tens-of-KB each, so an 8 MB byte cap bounds JVM→Python transfer
# at Common-Crawl page sizes (SURVEY.md §7.4) — ~256 rows/batch for
# page-sized rows, exactly the old record-cap behavior — while
# narrow-text pandas-UDF legs (BPE counts, trained LID, NFC) batch up
# to 4096 rows instead of being throttled to 256 (measured +13%
# extraction throughput, ~5% on the UDF queries; guide §4.2 "keep
# batch sizes large enough for vectorization to pay off").
ARROW_MAX_RECORDS_PER_BATCH = 4096
ARROW_MAX_BYTES_PER_BATCH = 8 * 1024 * 1024


def find_iceberg_jar() -> str | None:
    """Path of an Iceberg Spark runtime jar if one is reachable, else
    None. Probes ``$SPARK_GRAFT_ICEBERG_JAR`` (explicit override),
    then ``$SPARK_HOME/jars`` / pyspark's bundled ``jars`` dir for
    ``iceberg-spark-runtime*.jar``. Filesystem-level on purpose: the
    probe must run BEFORE the session exists, because catalog/extension
    confs only take effect at session build."""
    import glob

    override = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if override and os.path.exists(override):
        return override
    candidates: list[str] = []
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        candidates.append(os.path.join(spark_home, "jars"))
    import pyspark

    candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    for jar_dir in candidates:
        hits = sorted(glob.glob(os.path.join(jar_dir, "iceberg-spark-runtime*.jar")))
        if hits:
            return hits[0]
    return None


def iceberg_available(spark: SparkSession) -> bool:
    """True when the running session's JVM can load Iceberg's Spark
    catalog class — the authoritative runtime check (the jar probe is
    the build-time one). Resolution goes through Spark's own
    ``Utils.classForName`` first: jars added via ``spark.jars`` /
    ``addJar`` live in Spark's mutable context classloader, which
    py4j's ``Class.forName`` (system loader) does not see."""
    cls = "org.apache.iceberg.spark.SparkCatalog"
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(cls, False, False)
        return True
    except Exception:
        try:
            spark._jvm.java.lang.Class.forName(cls)
            return True
        except Exception:
            return False


# Catalog name registered by build_session when Iceberg is present.
ICEBERG_CATALOG = "graft"


def build_session(
    app_name: str = "ai-pdf-extraction-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Respect a launcher-provided master (spark-submit --master yarn):
    # setting .master() here would override it at getOrCreate and run
    # the whole job local on the driver node. Only default to local
    # when neither the caller nor the launcher supplied one.
    from pyspark import SparkConf

    launcher_master = SparkConf().get("spark.master", None)
    master = master or launcher_master or f"local[{cpus}]"
    # local[N] → N; a real cluster master string falls back to cpus.
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            par = cpus if inner == "*" else int(inner)
        else:
            par = cpus
        shuffle_partitions = max(par, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan, shuffle-partition coalescing, skew-join
        # splitting (north_rule "AQE-tuned shuffle").
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow hot path for pandas UDFs (input_hint: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        # Keep scans splittable at 100 TB: default 128m splits; at
        # local scale this is moot but harmless.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    merged = dict(extra_conf or {})
    if iceberg_warehouse is not None:
        jar = find_iceberg_jar()
        if jar is not None:
            # hadoop-type catalog: metadata lives under the warehouse
            # path — the cluster shape the north_rule names. With no
            # runtime jar the session comes up WITHOUT the catalog and
            # callers fall back to SnapshotTable (make_output_table).
            # spark.jars MERGES with any caller-supplied jars (either
            # side silently dropping the other loses a classpath);
            # every other key defers to an explicit extra_conf value.
            caller_jars = merged.get("spark.jars")
            merged["spark.jars"] = f"{caller_jars},{jar}" if caller_jars else jar
            merged.setdefault(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions",
            )
            merged.setdefault(
                f"spark.sql.catalog.{ICEBERG_CATALOG}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            merged.setdefault(f"spark.sql.catalog.{ICEBERG_CATALOG}.type", "hadoop")
            merged.setdefault(
                f"spark.sql.catalog.{ICEBERG_CATALOG}.warehouse",
                iceberg_warehouse,
            )
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _package_manifest(pkg_dir: str) -> list[tuple[str, str]]:
    """Sorted (abs path, archive-relative path) of the package's .py
    files AND .json package data (the schema-registry configs — the
    zip must carry them or ``load_schema`` fails on a --py-files-only
    deployment) — single source of truth for both zip producers."""
    pkg_name = os.path.basename(pkg_dir)
    out: list[tuple[str, str]] = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for name in sorted(files):
            if name.endswith((".py", ".json")):
                full = os.path.join(root, name)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                out.append((full, rel))
    return sorted(out)


def make_package_zip(dest: str, pkg_dir: str | None = None) -> str:
    """Build the ``--py-files`` zip of this package at ``dest``
    (atomic: temp file + rename). Shared by ``_ship_package`` and
    ``tools/make_pyfiles_zip.py`` so the two can never drift."""
    import uuid
    import zipfile

    pkg_dir = pkg_dir or os.path.dirname(os.path.abspath(__file__))
    tmp = f"{dest}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, rel in _package_manifest(pkg_dir):
            zf.write(full, rel)
    os.replace(tmp, dest)
    return dest


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the ``spark-submit --py-files``
    contract from the north_rule, applied programmatically so Python
    workers resolve the kernel imports regardless of driver cwd)."""
    import hashlib
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # imported from a zip (spark-submit --py-files already shipped
        # the package to executors) — nothing to do
        return
    pkg_name = os.path.basename(pkg_dir)
    # Cache key = digest over (relpath, mtime_ns, size) of every file:
    # a max-mtime key missed deletions/renames and same-second edits,
    # shipping stale code — exactly what the cache must never do.
    h = hashlib.md5()
    for full, rel in _package_manifest(pkg_dir):
        st = os.stat(full)
        h.update(f"{rel}|{st.st_mtime_ns}|{st.st_size}\n".encode())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        make_package_zip(zip_path, pkg_dir)
    sc = spark.sparkContext
    # every queries() entry ships: adding the same zip again would only
    # log a warning and grow sys.path and the include list per call
    if os.path.basename(zip_path) not in (sc._python_includes or []):
        sc.addPyFile(zip_path)
