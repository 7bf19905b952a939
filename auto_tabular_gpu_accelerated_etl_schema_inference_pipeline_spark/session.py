"""SparkSession bootstrap + fixture loading.

Local-mode defaults are tuned for the driver's ``local[32]`` box but every
config here is the one you'd also set on a 1000-executor cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), Arrow on
(vectorized JVM<->Python transfer — the analog of the reference's PCIe
transfer at etl_benchmark.py:53), UTC session timezone (oracle parity).
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# See the heap-sizing comment in get_spark. Override with
# SPARK_DRIVER_MEMORY when a workload genuinely needs more heap.
_DRIVER_MEM = os.environ.get("SPARK_DRIVER_MEMORY", "6g")


def get_spark(
    app_name: str = "auto-tabular-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "32")
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Heap sizing: small, fully committed, pre-touched. This box's
        # hypervisor reclaims guest memory aggressively (measured: first
        # ~2-3 GB of fresh page faults run at ~3 GB/s, everything beyond
        # at ~0.15 GB/s — each GB of NEW heap costs ~6 s). A lazily-grown
        # 48 GB heap therefore stalls every scan while G1 faults in fresh
        # regions (measured: the 10M×20 bucketize pass was 13-18 s under
        # a 48 GB lazy heap vs 2-3.5 s under a 6 GB pre-touched one).
        # Xms == Xmx means G1 never uncommits (no re-fault after the
        # hypervisor reclaims returned pages); AlwaysPreTouch moves the
        # one-time fault cost into JVM startup, outside every timed
        # phase. On a real cluster the same flags are standard executor
        # hygiene (executors are sized to their containers and pre-touch
        # to avoid NUMA/fault jitter), so this is not a bench-only hack.
        .config("spark.driver.memory", _DRIVER_MEM)
        # GCLockerRetryAllocationCount: G1's default of 2 retries turns
        # transient JNI-critical-section contention (32 executor threads
        # in compression/Arrow native calls) into a SPURIOUS
        # OutOfMemoryError with free heap remaining — "Retried waiting
        # for GCLocker too often allocating N words" killed a 16 GB-heap
        # probe run allocating 4 words. Raising the retry budget is the
        # documented mitigation (JDK-8192647); diagnostic flag, so it
        # must follow UnlockDiagnosticVMOptions.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{_DRIVER_MEM} -XX:+AlwaysPreTouch "
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=64",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # cached batches stay uncompressed: the flagship workload caches
        # random doubles (incompressible) — compression would only add
        # CPU to cache build and every read
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime settings every oracle-compared query needs regardless of
    who built the session (the driver builds its own): UTC timestamps so
    Spark renders the same instants DuckDB reads from the parquet
    footers. ANSI mode is deliberately left at Spark 4's default (ON) —
    the whole registry passes under it (degenerate cases are guarded
    explicitly, e.g. kappa's p_e = 1 NULL, rather than leaning on
    non-ANSI NaN→0 casts), so queries behave identically on strict
    production clusters."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


class ContextCache:
    """Values that stay valid for the lifetime of one SparkContext,
    keyed by the context's applicationId + startTime plus a caller key.
    Not id(sparkContext): CPython recycles object addresses, so a
    restarted context could otherwise be handed its predecessor's value
    (a dead checkpoint, a fork of a stopped session).

    On every insert, entries of other (dead) contexts are purged first.
    ``max_live`` additionally bounds the live context's entries, evicting
    the least recently used one, for caches whose values pin memory."""

    def __init__(self, max_live: int | None = None):
        self.max_live = max_live
        self._entries: OrderedDict = OrderedDict()

    def get(self, spark: SparkSession, key: tuple, build):
        """The value cached under ``key`` for ``spark``'s context,
        calling ``build()`` to make it at most once while it stays
        cached."""
        sc = spark.sparkContext
        ctx = (sc.applicationId, sc.startTime)
        k = (*ctx, *key)
        if k in self._entries:
            self._entries.move_to_end(k)
            return self._entries[k]
        for old in [ok for ok in self._entries if ok[:2] != ctx]:
            del self._entries[old]
        value = build()
        if self.max_live is not None:
            while len(self._entries) >= self.max_live:
                self._entries.popitem(last=False)
        self._entries[k] = value
        return value

    def __contains__(self, k: tuple) -> bool:
        return k in self._entries

    def __len__(self) -> int:
        return len(self._entries)


#: LRU bound for session_memo entries of the live context: without it a
#: single long-lived context (e.g. many forked sessions hitting memoized
#: lanes) would grow the cache unboundedly while holding
#: checkpoint-pinned blocks.
_MEMO_MAX_LIVE = 64

#: session-scoped DataFrame memo — expensive relations that several
#: registry queries share (near-dup pairs, market-basket edges, LPA
#: labels) are computed once per (session, key, sf_dir) and
#: localCheckpoint-pinned. A checkpoint is only valid inside the
#: context that produced it; the pinned relations are all output-sized
#: (pairs/labels ≪ input²). This is the production discipline at
#: 100 TB: materialize a shared intermediate once per run, derive every
#: consumer from the materialization instead of re-running the pipeline.
_DF_MEMO = ContextCache(max_live=_MEMO_MAX_LIVE)


def session_memo(spark: SparkSession, key: str, sf_dir: str, build) -> DataFrame:
    """Return the checkpoint-pinned result of ``build()`` for this
    (session, key, sf_dir), computing it at most once. The key includes
    the JVM SparkSession's sessionUUID: forked ``newSession()`` clones
    share the context but a DataFrame is bound to the session that
    built it, so handing a fork another session's plan would mix
    session state/confs. A fork therefore gets its own memo slot
    (correct, merely un-shared). sessionUUID, not ``hashCode()``:
    identity hashes are ~31-bit and reusable after GC, so a later
    session could collide with a dead fork's entry; the UUID is
    collision-free for the context's lifetime. Evicting an entry drops
    the reference, which lets the ContextCleaner reclaim its checkpoint
    blocks."""
    return _DF_MEMO.get(
        spark,
        (spark._jsparkSession.sessionUUID(), key, sf_dir),
        lambda: build().localCheckpoint(),
    )


#: one cached newSession() fork per (context, parent session, purpose) —
#: see forked_session. Purposes are module-static strings, so the cache
#: is bounded by the number of forking LANES, not invocations.
_FORK_CACHE = ContextCache()


#: runtime confs re-synced from the parent on EVERY forked_session call
#: — the plan-shaping ones a reused fork must track rather than freeze
#: at whatever the parent held when the fork was first created (a
#: harness that tunes these mid-process would otherwise bake its
#: transient value into every later lane run).
_FORK_SYNCED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.ansi.enabled",
)


def forked_session(spark: SparkSession, purpose: str) -> SparkSession:
    """A cached ``newSession()`` fork for lanes that need session-scoped
    temp views or conf overrides (bloom-filter thresholds, scripting,
    state-reader telemetry). Forking per INVOCATION leaks one JVM
    SessionState (temp catalog, conf map) per call for the app's
    lifetime (ADVICE r6); one fork per (context, parent session,
    purpose) gives the same isolation — the caller's session never
    sees the views/confs, purposes never see each other's, and two
    parent sessions sharing a context never share a fork — at a
    session count bounded by lanes x parents, not invocations.
    ``newSession()`` starts from SparkContext defaults, NOT the
    parent's runtime conf changes, so the plan-shaping confs
    (_FORK_SYNCED_CONFS) are synced from the parent on EVERY call —
    create and reuse alike (ADVICE r7: syncing only on reuse let a
    lane's first invocation run under different shuffle/AQE/ANSI
    settings than every later one). Lanes must (re)apply their OWN
    confs and createOrReplaceTempView their views on every call: the
    fork is reused, not reset."""
    s = _FORK_CACHE.get(
        spark, (spark._jsparkSession.sessionUUID(), purpose), spark.newSession
    )
    for c in _FORK_SYNCED_CONFS:
        s.conf.set(c, spark.conf.get(c))
    return s


def pinned_shuffle_width(spark: SparkSession) -> int:
    """Width for plan-pinning fixed-width repartitions (the anti-flap
    exchanges of the as-of / PPJoin / retrieval families), floored and
    capped (ADVICE r11): raw defaultParallelism is wrong at BOTH ends on
    a real cluster — under dynamic allocation it can be tiny at plan
    time (executors not yet registered), hard-coding a width that
    defeats the straggler rationale the pin exists for; and on a
    10k-core cluster an uncapped width turns every pinned exchange into
    200k-file shuffles. min(max(32, par), 1024) — the derivation
    retrieval.py:82 already shipped, now the one shared rule."""
    return min(max(32, spark.sparkContext.defaultParallelism), 1024)


#: memo for spread_small_scan's split-count probe: (context, key,
#: parallelism) -> bool(under-split). df.rdd forces full analysis +
#: physical planning on the DRIVER per call (ADVICE r12), and the
#: _docs()/_emb() loaders paid that on every query construction; the
#: split count of a fixture table is stable for a context's lifetime,
#: so one probe per (context, table, parallelism) suffices. Bounded:
#: |tables| x |sf_dirs| live entries.
_SPREAD_MEMO = ContextCache()


def spread_small_scan(
    df: DataFrame, spark: SparkSession, key: str | None = None
) -> DataFrame:
    """Round-robin repartition a scan whose split count is far below the
    session's parallelism (guide §2.5 input skew: a small or
    single-row-group parquet file yields ONE scan partition, serializing
    every downstream expression — tokenization, hashing, regex — onto
    one core of local[32]). Scale-adaptive by construction: a
    production-scale table arrives as >= parallelism splits, making this
    a no-op; only genuinely under-split inputs pay the one extra (tiny)
    exchange. Used by the text/document lanes whose per-row expression
    work dominates; NOT wired into load_table, because plan-pinned lanes
    (as-of family, retrieval) count their exchanges.

    ``key``: optional stable identity of the scan (the table path).
    When given, the under-split verdict is memoized per (context, key,
    parallelism) so repeated query constructions skip the driver-side
    ``df.rdd`` planning probe (ADVICE r12). Callers must pass a key that
    uniquely identifies the FILE SET being scanned; the memo assumes the
    split count of that file set is stable within one SparkContext
    (true for the immutable fixture tables; a session that rewrites a
    table in place must not pass a key)."""
    par = spark.sparkContext.defaultParallelism

    def under_split() -> bool:
        return df.rdd.getNumPartitions() * 4 <= par

    if key is None:
        under = under_split()
    else:
        under = _SPREAD_MEMO.get(spark, (key, par), under_split)
    return df.repartition(par) if under else df


#: memo for parquet_schema: (context, path) -> schema. A footer read
#: costs ~70 ms of driver time per call, and every streaming lane
#: re-derived its source schema on every construction; fixture files
#: are immutable for a context's lifetime.
_SCHEMA_MEMO = ContextCache()


def parquet_schema(spark: SparkSession, path: str):
    """Memoized schema of a parquet file/dir (driver footer read)."""
    return _SCHEMA_MEMO.get(
        spark, (path,), lambda: spark.read.parquet(path).schema
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (reference O3, etl_benchmark.py:27): schema comes from
    the parquet footer; Catalyst pushes filters/projections into the scan."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet: ts arrives either as a native TIMESTAMP (fixture
    generations that write micros) or as TIMESTAMP(NANOS), which Spark's
    vectorized parquet reader rejects — for the latter, read nanos as long
    (legacy conf, runtime-settable) and truncate to microsecond timestamps,
    exactly what DuckDB's reader does, so oracle comparisons line up. `div`
    (integer division) is load-bearing there: ns epoch values ~1.7e18 lose
    precision through double division. The branch is schema-driven, so the
    same code works against both fixture vintages."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    df = load_table(spark, sf_dir, "events")
    if isinstance(df.schema["ts"].dataType, LongType):  # nanos-as-long vintage
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # native micros arrive as TIMESTAMP_NTZ; normalize to TIMESTAMP
        # (session tz is UTC, so the instant is unchanged) — downstream
        # ops (unix_micros, windows) and the oracle expect TIMESTAMP
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
