"""SparkSession factory with engine defaults.

Spark-first analogue of the reference's extension bootstrap
(``/root/reference/src/ner_extension.cpp:188-218``): one place that pins the
session-level knobs every operator in this engine assumes.

Scale notes (100 TB design bar):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions replace hand-tuned partition counts when the
  same plans run on a 1000-executor cluster.
- ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics and
  oracle (DuckDB) parity; DuckDB timestamps are wall-clock naive.
- Arrow enabled: every Python-side operator in this engine is Arrow-batched
  (the ``ner()`` Arrow UDF, pandas UDFs, mapInPandas) — the analogue of
  DuckDB's 2048-row DataChunk
  (``/root/reference/src/ner_extension.cpp:49-51``).
- Local Python workers get ``OPENBLAS_CORETYPE`` when NumPy's OpenBLAS does
  not know the CPU and falls back to its SSE3 kernel (``worker_blas_core``).
- Python workers re-read an import zip's directory only when the archive
  changed (``install_zip_stat_check``): PySpark invalidates the import caches
  before every task, and ``ner()``'s workers unpickle a module that imports
  this one.
"""

from __future__ import annotations

import ctypes
import functools
import os
import zipimport
from collections.abc import Mapping

from pyspark.sql import SparkSession

# Conf keys owned by this engine (analogue of DuckDB extension options,
# /root/reference/src/ner_extension.cpp:215-217).
CONF_MODEL_PATH = "spark.ner.modelPath"
CONF_TRUNCATE = "spark.ner.truncate"

CONF_WORKER_BLAS_CORE = "spark.executorEnv.OPENBLAS_CORETYPE"
# OpenBLAS's generic SSE3 kernel: NumPy's bundled OpenBLAS 0.3.23 picks it on
# CPUs newer than its core table (a one-thread 1024³ sgemm on a shared AVX-512
# Xeon VM: 21-29 GFLOP/s, against 90-131 with the SkylakeX kernel).
_BLAS_FALLBACK_CORE = "Prescott"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def worker_blas_core(
    user_core: str | None, corename: str | None, cpu_features: Mapping[str, bool]
) -> str | None:
    """The ``OPENBLAS_CORETYPE`` for the Python workers, or ``None`` to set
    nothing: a user's value always wins, an OpenBLAS that detected its core
    (or no OpenBLAS at all) is left alone, and a core is named only when
    NumPy's dispatch table confirms its ISA with OS register support — a
    core the CPU lacks dies of SIGILL."""
    if user_core or corename != _BLAS_FALLBACK_CORE:
        return None
    if cpu_features.get("AVX512_SKX"):
        return "SkylakeX"
    if cpu_features.get("AVX2") and cpu_features.get("FMA3"):
        return "Haswell"
    return None


def openblas_corename() -> str | None:
    """Core of the OpenBLAS NumPy mapped into this process, or ``None`` if
    NumPy's BLAS is not OpenBLAS or the library cannot be asked."""
    import numpy  # noqa: F401 — maps NumPy's BLAS into this process

    try:
        with open("/proc/self/maps") as f:
            paths = sorted({
                parts[5] for parts in (line.rstrip("\n").split(maxsplit=5) for line in f)
                if len(parts) == 6 and "openblas" in os.path.basename(parts[5])
            })
    except OSError:
        return None
    for path in paths:
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        fn = getattr(lib, "openblas_get_corename64_", None) or getattr(
            lib, "openblas_get_corename", None
        )
        if fn is not None:
            fn.restype = ctypes.c_char_p
            name = fn()
            return name.decode() if name else None
    return None


@functools.cache
def _driver_blas_probe() -> tuple[str | None, dict[str, bool]]:
    from numpy._core._multiarray_umath import __cpu_features__

    return openblas_corename(), dict(__cpu_features__)


def chosen_worker_blas_core(extra_conf: Mapping[str, str]) -> str | None:
    """``worker_blas_core`` for this driver, with the user's
    ``OPENBLAS_CORETYPE`` from the environment or from ``extra_conf``."""
    user_core = os.environ.get("OPENBLAS_CORETYPE") or extra_conf.get(CONF_WORKER_BLAS_CORE)
    return worker_blas_core(user_core, *_driver_blas_probe())


def blas_cores(spark: SparkSession) -> dict[str, str | None]:
    """The OpenBLAS cores of the driver and of this session's Python workers
    (the latter by a one-task job)."""
    workers = spark.sparkContext.parallelize([0], 1).map(lambda _: openblas_corename()).first()
    return {"driver": openblas_corename(), "workers": workers}


def install_zip_stat_check() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive's ``(st_mtime_ns, st_size)`` differs from the last
    read's, or the shared directory cache dropped it; returns whether it
    installed.

    CPython ≤ 3.12 re-reads the whole zip directory in pure Python on every
    call, once per zipimporter of the archive, and PySpark calls
    ``importlib.invalidate_caches()`` before each task of a reused worker,
    whose pyspark comes from ``pyspark.zip``. A stdlib with
    ``zipimporter._get_files`` (3.13+) invalidates lazily and is left alone.
    Nothing is recorded before an archive's first invalidation, which reads
    it as the stdlib does: an archive replaced after its importer was made is
    still re-read."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if hasattr(cls, "_get_files") or hasattr(original, "__wrapped__"):
        return False
    read_stamps: dict[str, tuple[int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        # Stamped before the read: an archive replaced during it reads as
        # changed next time.
        original(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_stamps[self.archive] = stamp
        else:
            read_stamps.pop(self.archive, None)

    cls.invalidate_caches = invalidate_caches
    return True


install_zip_stat_check()


def get_spark(
    app_name: str = "duckdb-ner-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned defaults;
    ``extra_conf["spark.master"]`` overrides the local master."""
    cpus = default_parallelism()
    extra_conf = extra_conf or {}
    master = extra_conf.get("spark.master", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce to the advisory partition SIZE rather than stopping at max
        # parallelism — the Spark-docs-recommended production setting: at
        # 100 TB it sizes reduce tasks to data (not to a hand-tuned count);
        # on small inputs it collapses near-empty reduce tasks instead of
        # scheduling `shuffle.partitions` of them.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataChunk-sized Arrow batches for Python UDFs (SURVEY.md §4.2).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Engine option defaults (reference default: truncate=true,
        # /root/reference/src/ner_extension.cpp:53).
        .config(CONF_TRUNCATE, "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark rejects;
        # read as long and convert in the catalog (ns→µs, DuckDB does the same
        # truncation — SURVEY.md §2.C dialect hazards).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Local workers run on the driver's CPU, so its dispatch table vouches
    # for their ISA; the driver's own NumPy keeps the kernel it loaded.
    if master.startswith("local"):
        core = chosen_worker_blas_core(extra_conf)
        if core:
            builder = builder.config(CONF_WORKER_BLAS_CORE, core)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
