"""Session management: SparkSession factory + a name->DataFrame catalog.

The reference keeps named tables in a global environment and supports
in-place mutation by quoted name (``(set 'employees …)``, ``update {from:
'employees}`` — ref core/binary.c:317, core/update.c:938). In Spark the
analog is a driver-side catalog mapping names to (immutable) DataFrames with
replace-on-write; no Catalyst involvement is needed (SURVEY §4 item 5).

Parquet tables are resolved once per SparkSession too, as the reference
resolves a named table once into its global environment (ref
core/compose.c:217): :func:`load_tables` keeps each session's frames keyed
by absolute path and re-resolves a table only when its files' stamp
(inode or name, mtime, size) changes. Callers share those frame objects,
so ``.cache()``/``.unpersist()`` on one acts for every caller.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


#: event-time columns canonicalized to i64-ns at load (TESTDATA: events.ts).
#: Date-valued timestamps (l_shipdate, o_orderdate) stay temporal — they are
#: compared/bucketed as calendar dates, not event-time arithmetic operands.
NS_SHADOW_COLS = ("ts",)


def normalize_ns(df: DataFrame, cols=NS_SHADOW_COLS) -> DataFrame:
    """Canonicalize event-time columns to the engine's i64 epoch-ns shape.

    SURVEY §1.2's "LongType ns shadow" strategy: the reference's timestamps
    are i64 nanos (ref core/ops.h:273-276); parquet in the wild carries
    TIMESTAMP(µs) (the driver fixture does, all SFs — r3's gate regression
    was exactly this dtype drift). Rewriting Timestamp(NTZ) event-time
    columns to ``unix_micros*1000`` longs right after the scan gives the
    temporal operators one canonical dtype; it is a pure projection
    (column pruning and parquet predicate pushdown on other columns are
    unaffected, and Catalyst folds it into the scan's project). NTZ
    wall-clock is read as a UTC instant — the engine pins the session
    timezone to UTC, so this matches DuckDB's timezone-less epoch_ns().
    The operators also dispatch on dtype themselves (functions/kdb.to_ns),
    so non-normalized timestamp inputs still work — this just keeps one
    canonical shape inside the engine.
    """
    reps = {
        f.name: F.unix_micros(F.col(f.name).cast("timestamp")) * F.lit(1000)
        for f in df.schema.fields
        if f.name in cols
        and isinstance(f.dataType, (TimestampType, TimestampNTZType))
    }
    return df.withColumns(reps) if reps else df


def host_cpus() -> str:
    """Local-mode slot count: $SPARK_GRAFT_CPUS, else this host's CPU
    count (a fixed 32 oversubscribes small hosts and idles big ones)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def host_driver_mem() -> str:
    """Driver heap: $SPARK_GRAFT_DRIVER_MEM, else half of this host's
    physical memory, between 1g and 16g (a fixed 16g asks for more heap
    than a 15 GB host has)."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, min(16384, phys_mb // 2))}m"


def _shuffle_default(cpus: str) -> int:
    return int(cpus) if cpus.isdigit() else os.cpu_count() or 1


def get_spark(app_name: str = "rayforce_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    Local mode honours $SPARK_GRAFT_CPUS and $SPARK_GRAFT_DRIVER_MEM,
    falling back to host_cpus / host_driver_mem; on a real cluster the
    master and memory come from spark-submit and these configs remain
    sensible: AQE on (runtime re-plan, skew-join splitting, partition
    coalescing), Arrow on (vectorized Python interchange), UTC session
    timezone (oracle parity).
    """
    cpus = host_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = _shuffle_default(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # vectorized two-level aggregate hash map: row-batch probing for
        # codegen'd partial aggregation (off by default upstream; measured
        # neutral-to-better on the H2O group-by shapes here)
        .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
        # prefer shuffled-HASH join over sort-merge when the planner's
        # size guard allows building a per-task map (canBuildLocalHashMap:
        # side estimate < autoBroadcastJoinThreshold * shuffle.partitions,
        # so the cap scales with the cluster). The reference's joins ARE
        # hash-index joins (ref core/index.c:2886); skipping both sorts
        # measured -30%/-40% on the 1e7x1e7 H2O inner/left joins
        # (BASELINE_CMP). Oversized sides still plan SMJ; AQE skew
        # splitting applies first.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # first-level fast-map capacity 2^18 (default 2^16): 100k-group
        # partial aggs otherwise overflow to the BytesToBytesMap fallback
        # for most rows — measured ~45% faster on 100k-group H2O shapes
        # (gq3 799->411ms, gq6 682->352, gq5 637->335; 2^20 regresses from
        # cache footprint). Memory cost is bounded: partial-only, per-task,
        # and the map spills/falls back as usual when heap is tight.
        .config("spark.sql.codegen.aggregate.fastHashMap.capacityBit", "18")
        # ns-precision timestamps (the reference's i64 nanos,
        # ref core/ops.h:273-276) surface as LongType nanos — SURVEY §1.2's
        # "LongType shadow column" strategy.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", host_driver_mem())
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class Session:
    """Engine session: SparkSession + named-table catalog.

    ``set``/``get`` mirror the reference's global bindings
    (ref core/binary.c:317, core/unary.c:48); tables mutated "in place" by
    the mutation verbs (insert/upsert/update with a named target) are
    replaced in the catalog — DataFrames themselves stay immutable.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self._catalog: dict[str, DataFrame] = {}

    @classmethod
    def connect(cls, url: str) -> "Session":
        """Open a session against a REMOTE engine — the reference's
        ``(hopen "host:port")`` client handle (ref core/ipc.c:226,
        core/io.c:144-197), re-expressed over Spark Connect.

        ``url`` is a Spark Connect endpoint (``sc://host:port``); a bare
        ``host:port`` is promoted to ``sc://host:port`` to keep the
        reference's spelling working. Every Session verb (set/get/query
        helpers) then runs against the remote cluster — the Connect
        DataFrame API is plan-compatible with the classic one, so the
        operator layer needs no changes.

        Requires the ``grpcio``/``pyspark[connect]`` extra at runtime;
        raises ImportError with the install hint when absent (this
        container ships without it — the shim is import-gated, not
        stubbed).
        """
        hint = (
            "Session.connect requires Spark Connect's client deps "
            "(pip install 'pyspark[connect]')"
        )
        try:
            import grpc  # noqa: F401
        except ImportError as e:
            raise ImportError(hint) from e
        if "://" not in url:
            url = f"sc://{url}"
        try:
            remote = SparkSession.builder.remote(url).getOrCreate()
        except ImportError as e:
            # grpc alone isn't enough (grpcio-status, googleapis protos,
            # pandas/pyarrow are also required) — keep the install hint
            raise ImportError(hint) from e
        except RuntimeError as e:
            raise RuntimeError(
                f"{e} — note a classic (non-Connect) SparkSession already "
                "active in this process prevents builder.remote(); stop it "
                "with SparkSession.getActiveSession().stop() first, or "
                "connect from a fresh process"
            ) from e
        return cls(remote)

    # -- catalog -----------------------------------------------------------
    def set(self, name: str, df: DataFrame) -> DataFrame:
        self._catalog[name] = df
        df.createOrReplaceTempView(name)
        return df

    def get(self, name: str) -> DataFrame:
        if name in self._catalog:
            return self._catalog[name]
        return self.spark.table(name)

    def drop(self, name: str) -> None:
        self._catalog.pop(name, None)
        self.spark.catalog.dropTempView(name)

    def tables(self) -> list[str]:
        return sorted(self._catalog)


def _hidden(name: str) -> bool:
    # Spark's file listing skips these too: _SUCCESS, _temporary/, .crc
    return name.startswith(("_", "."))


def _stamp(path: str):
    """The identity of a table's files (see :func:`load_tables`), or None
    when ``path`` is gone. A directory table's partition subdirectories
    are walked too."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for n in names:
            if not _hidden(n):
                f = os.path.join(root, n)
                fs = os.stat(f)
                files.append((f, fs.st_mtime_ns, fs.st_size))
    return tuple(sorted(files))


def _resolved(spark: SparkSession) -> dict:
    """This session's resolved tables: absolute path -> (stamp, frame).

    Held as an attribute of the session object rather than in a
    module-level WeakKeyDictionary: every frame references its session,
    so a weak-keyed map would keep each session (and its frames) alive
    for the life of the process. On the session itself the catalog is
    collected with it, and ``spark.newSession()`` or a restarted
    session starts empty."""
    cat = getattr(spark, "_rayforce_resolved", None)
    if cat is None:
        cat = spark._rayforce_resolved = {}
    return cat


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the parquet tables of an sf directory — the one table
    loader, for entry points and engine callers alike. Tables missing
    from ``sf_dir`` are left out of the result.

    Each table is resolved once per SparkSession: the session keeps the
    ``normalize_ns(spark.read.parquet(path))`` frame keyed by the table's
    absolute path, stamped with ``(st_ino, st_mtime_ns, st_size)`` of a
    single-file table or the sorted ``(name, mtime_ns, size)`` of a
    directory table's data files. A call whose stamp matches returns the
    same frame object and launches no Spark job; a rewritten, added or
    removed file re-resolves the table, and a deleted table drops out.
    Callers therefore share frame objects: ``.cache()``/``.unpersist()``
    on one acts for every caller, as it already did through Spark's
    plan-keyed cache manager.

    The runtime confs below are set on every call, hit or miss, so an
    externally created session is pinned before any query runs on it.
    Nanos-as-long lets such sessions read TIMESTAMP(NANOS) parquet too;
    TIMESTAMP(µs) columns (what the fixture carries) are normalized to the
    same i64-ns shadow by :func:`normalize_ns` — both parquet temporal
    encodings land on one canonical dtype.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ wall-clock -> instant goes through the session tz; pin UTC so
    # externally created sessions agree with DuckDB's epoch_us()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # engine confs a plain (driver-created) session lacks, all
    # runtime-settable: the 200-partition default is pure task overhead
    # at local gate scale. Only replace the STOCK default — a cluster
    # (or user) that configured shuffle.partitions deliberately keeps
    # its value (checked via the launch SparkConf, not the value: a
    # deliberate "200" must survive — r8 ADVICE); AQE coalescing keeps
    # post-shuffle partitions data-sized. Asked of the context's own conf:
    # getConf() would copy every entry through py4j, ~15 ms a call, more
    # than the rest of a catalog hit
    explicitly_set = spark.sparkContext._conf.contains(
        "spark.sql.shuffle.partitions")
    if (not explicitly_set
            and spark.conf.get("spark.sql.shuffle.partitions",
                               "200") == "200"):
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(_shuffle_default(host_cpus())))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    resolved = _resolved(spark)
    # a deleted table's frame goes with it, whichever sf_dir it was in
    # (list() snapshots the keys: another thread may be loading too)
    for gone in [p for p in list(resolved) if not os.path.exists(p)]:
        resolved.pop(gone, None)
    out = {}
    for t in tables or TABLES:
        path = os.path.abspath(os.path.join(sf_dir, f"{t}.parquet"))
        # stamp BEFORE reading: a file that changes mid-read leaves an
        # older stamp, so the next call re-resolves rather than keeping it
        st = _stamp(path)
        if st is None:
            continue
        hit = resolved.get(path)
        if hit is None or hit[0] != st:
            hit = resolved[path] = (st, normalize_ns(spark.read.parquet(path)))
        out[t] = hit[1]
    return out
