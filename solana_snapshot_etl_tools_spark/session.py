"""The engine's driver-side session state.

- the SparkSession factory tuned for this engine. Local testing runs
  on local[N]; the configs below are the ones that also matter on a
  real cluster (AQE, shuffle partitions, Arrow);
- the session memo of deterministic driver-side fits;
- the registry of operator caches released at a query boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "solana_snapshot_etl_tools_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    AQE is on so runtime statistics re-plan skewed joins and coalesce
    tiny shuffle partitions — both matter at 100 TB where static
    planning guesses wrong. Arrow is on for the pandas-UDF decoders.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine confs to a session we did not
    create (the verification driver owns its own session)."""
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep going
    return spark


# --- session memo ------------------------------------------------------------
# Driver-side fits that are deterministic in (corpus plan, params) are
# memoized for the life of the driver process: one process typically
# runs MANY queries against the same corpus (the correctness gate alone
# runs 8 ANN queries), so the training-sample collect, the k-means /
# PQ fits, the BPE and unigram tokenizer fits, the exhaustive-refine
# corpus count and the metadata-decode expression tree are each built
# once. Keys are ``(kind, *parts)``; a frame's part is ``plan_key(df)``
# (``DataFrame.semanticHash()``): two reads of the same parquet path
# share an entry; if the files were rewritten mid-session the memo
# would be stale — call clear_memo() (or start a new session) after
# mutating a corpus in place. The kinds listed in _MEMO_CAPS keep at
# most that many entries, oldest evicted first (a training sample is
# ~50 MB at train_limit=100k×64d; a tokenizer fit holds its whole
# merge/piece table); every other kind is kilobytes and unbounded.
_MEMO: dict[tuple, object] = {}
_MEMO_CAPS = {"sample": 4, "merges": 4, "unigram": 4}


def plan_key(df: DataFrame):
    """``df``'s memo-key part: its semantic plan hash, or None for an
    un-hashable plan (exotic sources), which :func:`memo` never stores."""
    try:
        return df.semanticHash()
    except Exception:
        return None


def memo(kind: str, parts: tuple, fit):
    """``fit()`` memoized under ``(kind, *parts)``; when any part is
    None the key is unstable, so ``fit()`` runs and nothing is stored."""
    if any(p is None for p in parts):
        return fit()
    key = (kind, *parts)
    if key in _MEMO:
        return _MEMO[key]
    value = fit()
    cap = _MEMO_CAPS.get(kind)
    if cap is not None:
        same = [k for k in _MEMO if k[0] == kind]
        if len(same) >= cap:
            del _MEMO[same[0]]  # dicts keep insertion order: FIFO
    _MEMO[key] = value
    return value


def clear_memo() -> None:
    _MEMO.clear()


def save_memo(path: str, kinds: tuple[str, ...]) -> int:
    """Pickle the memo entries of ``kinds`` to ``path``; returns how
    many. Only plain fitted values may be saved — never an entry that
    holds JVM references (a Column tree)."""
    import pickle

    entries = {k: v for k, v in _MEMO.items() if k[0] in kinds}
    with open(path, "wb") as f:
        pickle.dump(entries, f)
    return len(entries)


def load_memo(path: str) -> int:
    """Load entries saved by :func:`save_memo`; returns how many."""
    import pickle

    with open(path, "rb") as f:
        entries = pickle.load(f)
    _MEMO.update(entries)
    return len(entries)


# --- session cache registry --------------------------------------------------
# Operators cache small intermediate frames (minhash signatures, the
# verified pair list, the simhash sketch frame, the converged component
# labels, DSIR feature tables) that back LAZILY returned DataFrames —
# the operator itself cannot unpersist them before the caller
# materializes the result. Left alone they pin executor storage for
# the life of the session when many queries share one driver process.
# Every such cache is registered here; call release_session_caches()
# at a query boundary (bench.py does, between timed queries). The
# frames are kilobytes-to-megabytes (ids + fixed-width sketches), and
# Spark's MEMORY_AND_DISK default keeps even the unreleased case
# evictable rather than OOM-fatal.
_CACHES: list = []


def cache_for_session(df: DataFrame) -> DataFrame:
    df = df.cache()
    _CACHES.append(df)
    return df


class _CheckpointHandle:
    """Unpersist handle for a ``localCheckpoint`` frame.

    A checkpointed DataFrame is backed by a persisted RDD that
    ``df.unpersist()`` does NOT reach (no CacheManager entry), so it
    would otherwise pin storage until the ContextCleaner happens to GC
    it. The handle grabs the LogicalRDD's RDD via the query execution
    (a private accessor — degraded to a no-op if the accessor moves in
    a future Spark, leaving cleanup to the ContextCleaner). The RDD
    exists from the ``localCheckpoint`` call on, so the handle works
    the same for a lazy checkpoint whose blocks are not yet written.
    Quacks like a DataFrame for ``release_session_caches``."""

    def __init__(self, df: DataFrame):
        self.df = df
        try:
            self._rdd = df._jdf.queryExecution().analyzed().rdd()
        except Exception:
            self._rdd = None

    def unpersist(self, blocking: bool = False) -> None:
        if self._rdd is not None:
            self._rdd.unpersist(blocking)
            self._rdd = None


def checkpoint_for_session(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered. Unlike a plain
    cache, releasing a checkpoint leaves nothing to recompute from: a
    result built on it must be materialized before the release.

    ``eager=True`` runs a job now that fills the checkpoint.
    ``eager=False`` runs none: the first job that reads the frame
    writes its blocks (``MEMORY_AND_DISK``) as a side effect, and
    every later job reads them back. Use it when the frame's first
    consumer is itself a job you were going to run anyway."""
    df = df.localCheckpoint(eager=eager)
    _CACHES.append(_CheckpointHandle(df))
    return df


def is_session_checkpoint(df: DataFrame) -> bool:
    """Whether ``df`` is a frame :func:`checkpoint_for_session`
    returned that is not yet released."""
    return any(isinstance(e, _CheckpointHandle) and e.df is df for e in _CACHES)


def release_frame(df: DataFrame) -> None:
    """Free one registered frame now instead of at the next
    :func:`release_session_caches` (an iterative operator's superseded
    round)."""
    for i, entry in enumerate(_CACHES):
        if entry is df or getattr(entry, "df", None) is df:
            del _CACHES[i]
            entry.unpersist(blocking=True)
            return


def release_session_caches() -> int:
    """Unpersist every registered cache; returns how many. Results
    already materialized by callers remain valid (unpersist drops the
    cached blocks, not the lineage)."""
    n = 0
    while _CACHES:
        df = _CACHES.pop()
        try:
            df.unpersist(blocking=True)  # sync, so storage is drained NOW
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
