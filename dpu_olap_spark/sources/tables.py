"""Parquet table loader for the driver-provided TPC-H-ish testdata.

The reference has no storage layer at all — data is generated in
memory per benchmark (host/generator/generator.cc:22-71). Our scan is
`spark.read.parquet`, which at 100 TB gives us predicate pushdown,
column pruning, and partition pruning for free; tests assert the
pushdown actually reaches the scan (tests/test_plans.py).
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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
)

# Dimensions small enough to broadcast at any realistic scale factor.
# (region/nation are bounded by geography; supplier/part/customer grow
# with SF but stay << fact tables — at 100 TB those three would be
# bucketed instead; see plans/notes.md.)
BROADCAST_DIMS = ("region", "nation", "supplier")


# events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
# rejects. We read nanos as long (spark.sql.legacy.parquet.nanosAsLong,
# set in session._CONFS) and truncate to microseconds — the same floor
# the DuckDB oracle applies when casting TIMESTAMP_NS -> TIMESTAMP.
_NANO_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _restore_nano_ts(df, name)


# --- replay-volume-adaptive state partitioning (SCALE.md §r16) -------------

# The sweep's measured knee: symmetric-join replay pushes EVERY input
# row through a per-partition state map, so partitions track VOLUME
# (rows/300k, capped at cores), not key count; per-key AGG state keeps
# the r12 key-sized default (8) because per-batch commit cost dominates
# under ~100k events.
REPLAY_ROWS_PER_PARTITION = 300_000
STATE_PARTITIONS_DEFAULT = 8
# r18 optimization-round re-measurement (guide §2.4: fewer, larger
# state partitions when per-partition overhead dominates): a
# symmetric stream-stream join commits FOUR state stores per
# partition per batch (left/right x keyToNumValues/keyWithIndex), and
# the per-store commit cost is FIXED (~100ms task time even for a
# 63-row batch — measured via StreamingQueryProgress commitTimeMs),
# so at fixture volumes the 8-partition floor pays 4x8 store commits
# per batch for ~40k state rows.  Sweep on the registered interval
# join at sf0.1 (200k events, identical 183 emitted rows at every
# setting): p8 3.4s / p4 2.1s / p2 1.9s / p1 2.0s medians — the knee
# is 4.  The JOIN floor therefore drops to 4; the single-store
# AGG queries keep STATE_PARTITIONS_DEFAULT=8 (their sweep showed
# p2 = 5.0s vs p8 = 3.1s: pandas-worker parallelism dominates there).
# At replay scale nothing changes: rows/300k takes over above 1.2M.
JOIN_STATE_PARTITIONS_FLOOR = 4

_ROW_COUNT_CACHE: dict[tuple, int] = {}


def parquet_row_count(path: str) -> int:
    """Row count from the parquet footer — a driver-side metadata read
    (no Spark job).  Accepts a single file or a directory of part
    files.  Cached per PART-FILE fingerprint (name + mtime + size of
    every matched file), not the directory's own mtime: overwriting an
    existing part file in place does not touch the directory mtime, so
    a directory-keyed cache could size replay state for stale volume
    (the r17 ADVICE fix)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    files = (
        sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    key = tuple((f, os.path.getmtime(f), os.path.getsize(f)) for f in files)
    n = _ROW_COUNT_CACHE.get(key)
    if n is None:
        n = sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
        _ROW_COUNT_CACHE[key] = n
    return n


def parquet_int_column_max(path: str, column: str) -> int | None:
    """Exact MAX of an integer column from parquet footer statistics —
    a driver-side metadata read, no Spark job (guide §6: make readers
    use statistics).  Integer min/max stats are exact (no truncation,
    unlike strings), so this equals the agg result whenever every row
    group carries stats; returns None otherwise and the caller falls
    back to the scan.  Accepts a single file or a directory of part
    files, same as parquet_row_count."""
    import glob as _glob

    import pyarrow.parquet as _pq

    files = (
        sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        return None
    best: int | None = None
    for f in files:
        md = _pq.ParquetFile(f).metadata
        try:
            idx = next(
                i for i in range(len(md.schema))
                if md.schema.column(i).name == column
            )
        except StopIteration:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mx = st.max
            if not isinstance(mx, int):
                return None
            best = mx if best is None else max(best, mx)
    return best


def replay_state_partitions(n_rows: int, cores: int) -> int:
    """The r16 sweep rule for stream-stream JOIN state partitions:
    ``max(4, min(cores, n_rows // 300_000))``.  Measured at 10M events
    (SCALE.md §r16): p8 = 105.9s, p32 = 32.1s (3.3x) on 32 cores with
    identical emitted rows; p64 regressed at 1M, so cores is the cap.
    At driver/bench fixture sizes (<= 1.2M events) the rule floors at
    4 — the r18 optimization-round knee (see the comment above
    JOIN_STATE_PARTITIONS_FLOOR): the join's 4-stores-per-partition
    fixed commit cost made the old floor of 8 pay ~1s/query for no
    parallelism gain at fixture volumes; emitted rows are invariant."""
    return max(
        JOIN_STATE_PARTITIONS_FLOOR,
        min(cores, n_rows // REPLAY_ROWS_PER_PARTITION),
    )


def events_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Volume-adaptive state partitions for the JVM-side stateful
    streams over the events table — the stream-stream joins,
    aggregations, dedup, session windows and time-travel: events row
    count from the parquet footer, cores from the local scheduler,
    through the rows/300k volume rule of replay_state_partitions.

    Measured for the joins: see replay_state_partitions (SCALE.md
    §r16 for the volume term, the r18 knee of 4 for the floor).
    Measured for the rest, r18 optimization round (identical output
    rows at every setting): a JVM agg stream over sf0.1's 200k events
    ran 0.63s at p8 vs 0.53s at p4; the doubled-stream dedup (200k
    state keys) 0.93s at p8 vs 0.79s at p4 — the fixed per-partition
    store-commit cost dominates under ~1.2M rows, so the floor of 4
    wins; above it the volume term takes over exactly as for the
    joins.  Python-stateful streams (applyInPandasWithState)
    deliberately KEEP state_partitions=8: their sweep showed p2
    regressing 3.1s -> 5.0s because pandas-worker parallelism, not
    commit cost, dominates there."""
    n = parquet_row_count(os.path.join(sf_dir, "events.parquet"))
    return replay_state_partitions(n, spark.sparkContext.defaultParallelism)


def _restore_nano_ts(df: DataFrame, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    for col in _NANO_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "timestamp_ntz":
            # Testdata regenerated with tz-naive TIMESTAMP(MICROS): if
            # the session missed inferTimestampNTZ=false (session.py),
            # cast to session-tz TIMESTAMP here — watermarks require it
            # and the session tz is pinned UTC, so the cast is
            # value-preserving.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif dtype == "bigint":
            # floor division, not `div` (which truncates toward zero):
            # a pre-epoch nanosecond instant belongs to the EARLIER
            # microsecond (the us interval containing it) — the
            # time-correct semantic. NOTE (r11 differential): DuckDB
            # 1.0's TIMESTAMP_NS -> TIMESTAMP cast truncates toward
            # zero instead (-1 ns -> the epoch), so the two engines
            # diverge on pre-epoch sub-microsecond values; the legacy
            # ns testdata was all post-epoch, where floor == truncate.
            # pmod keeps the arithmetic exact in int64 (the ns
            # epoch magnitude overflows a double's 53-bit mantissa).
            df = df.withColumn(
                col,
                F.expr(f"timestamp_micros(({col} - pmod({col}, 1000)) div 1000)"),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() queries work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


_EVENTS_RAW_SCHEMA_CACHE: dict[str, object] = {}


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source for the events table: raw-schema file stream
    (ts still a nano-epoch long) with the nano->micro restoration
    applied on the streaming DF. Single point of truth for every
    streaming query and test. The raw schema (a driver-side parquet
    footer read) is cached per sf_dir."""
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = _EVENTS_RAW_SCHEMA_CACHE.get(path)
    if raw_schema is None:
        raw_schema = spark.read.parquet(path).schema
        _EVENTS_RAW_SCHEMA_CACHE[path] = raw_schema
    return _restore_nano_ts(
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir),
        "events",
    )


_LIVE_SINKS: dict[str, str] = {}

_STATE_CONF_LOCK = threading.Lock()

# Python Data Source registration is NOT safe against concurrent
# register calls: a register() in one thread can transiently hide
# other Python sources from a lookup (save/load) in flight in another
# (measured: bench's 8-thread phase failed pycsv_sink lookup while a
# sibling source re-registered). Register each source ONCE per session
# under one shared lock; after that no further register calls race
# with reads/writes. WeakKeyDictionary so a torn-down session's entry
# dies with it (and an id()-reused new session never inherits it).
import weakref

_PY_SRC_LOCK = threading.Lock()
_PY_SRC_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def register_python_sources_once(spark: SparkSession) -> None:
    """Register ALL Python data sources in one locked block on first
    touch. Serializing individual register calls is NOT enough: the
    JVM-side registry put can break a CONCURRENT lookup for a
    different, already-registered name (measured: 8-thread cold start
    lost pycsv_sink while synth_metrics registered), so the only safe
    schedule is every registration strictly before any save/load. One
    thread registers the trio; the rest wait on the lock and find the
    session marked done."""
    with _PY_SRC_LOCK:
        if _PY_SRC_REGISTERED.get(spark):
            return
        from dpu_olap_spark.sources.python_source import _make_sink, _make_source
        from dpu_olap_spark.sources.python_stream_source import _make_stream_source

        spark.dataSource.register(_make_source())
        spark.dataSource.register(_make_sink())
        spark.dataSource.register(_make_stream_source())
        _PY_SRC_REGISTERED[spark] = True


def run_available_now(
    stream_df: DataFrame,
    sink: str | Callable[[DataFrame, int], None] | None,
    output_mode: str,
    *,
    path: str | None = None,
    checkpoint: str | None = None,
    timeout_s: int = 180,
    state_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> None:
    """The one way to run a finite (availableNow) stream: start it,
    wait for it, stop it, and FAIL LOUDLY if it did not finish within
    ``timeout_s`` — a timed-out stream would otherwise silently leave
    partial aggregates or a partial sink directory. The query is
    stopped on every exit path, so no run outlives this call.

    ``sink`` picks where the rows go:
      * a ``str`` — a memory sink queryable as that table name; the
        previous table of the same query family (name minus trailing
        counter) is dropped so repeated builds don't accumulate result
        copies on the driver;
      * a callable ``(batch_df, batch_id)`` — a foreachBatch sink;
      * ``None`` — a parquet file sink at ``path`` if one is given,
        else the noop sink (state readers need only the checkpoint).

    ``checkpoint`` is the caller's to keep (state readers read it
    after the run, recovery tests resume from it); when omitted a
    temporary checkpoint lives exactly as long as the run.

    ``state_partitions`` sizes the stateful operator's state store: a
    streaming query pins spark.sql.shuffle.partitions at FIRST start
    for the checkpoint's lifetime, and every micro-batch pays a
    per-partition state-store commit, so the right number tracks the
    active key cardinality, not the batch-shuffle default (measured at
    sf0.1: 150 user keys, 32 partitions -> 7.9 s, 8 -> 2.9 s). It and
    ``extra_confs`` are restored after the start; a concurrently
    *planned* batch query would at worst coalesce through AQE, not
    break.
    """
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if isinstance(sink, str):
        family = sink.rstrip("0123456789")
        prev = _LIVE_SINKS.get(family)
        if prev is not None:
            try:
                spark.catalog.dropTempView(prev)
            except Exception:
                pass
        _LIVE_SINKS[family] = sink
        writer, target = writer.format("memory").queryName(sink), sink
    elif sink is not None:
        writer, target = writer.foreachBatch(sink), "foreachBatch"
    elif path is not None:
        writer, target = writer.format("parquet").option("path", path), path
    else:
        writer, target = writer.format("noop"), "noop"

    owned = (
        tempfile.TemporaryDirectory(prefix="ckpt_available_now_")
        if checkpoint is None
        else contextlib.nullcontext(checkpoint)
    )
    with owned as ckpt:
        # The confs matter only while the streaming query PLANS (state
        # partitioning is pinned at first start); set->start->restore
        # under a lock so concurrent callers (bench's thread-pool phase)
        # never plan against another stream's value or restore a stale
        # one. The long await runs outside the lock.
        with _STATE_CONF_LOCK:
            to_set: dict[str, str] = dict(extra_confs or {})
            if state_partitions is not None:
                to_set["spark.sql.shuffle.partitions"] = str(state_partitions)
            prev_vals = {k: spark.conf.get(k, None) for k in to_set}
            for k, v in to_set.items():
                spark.conf.set(k, v)
            try:
                q = writer.option("checkpointLocation", ckpt).start()
            finally:
                for k, v in prev_vals.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
        try:
            # a non-positive budget never counts as finished
            finished = timeout_s > 0 and q.awaitTermination(timeout_s)
        finally:
            q.stop()
        if not finished:
            raise RuntimeError(
                f"stream to {target!r} (checkpoint {ckpt}) did not finish "
                f"within {timeout_s}s; refusing to return partial results"
            )
